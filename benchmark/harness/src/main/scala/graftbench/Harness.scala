package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkInternals
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Benchmark driver around the program's public entry points.
  *
  *   Harness stage raw=… out=… date=…   one Runner.run (history template)
  *   Harness run workload=… …           the measured operation loop
  *
  * Protocol on stdout: `READY` once the session is built and a trivial job
  * has run, one `OP {json}` line per operation, then `END {json}`. Spark
  * logs go to stderr.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val kv = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = kv.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    // the session graft.Bench builds
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config(graft.sources.Tables.nanosConf._1, graft.sources.Tables.nanosConf._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    println("READY")
    System.out.flush()
    try args.head match {
      case "stage" =>
        new graft.pipeline.Runner(spark, kv("raw"), kv("out")).run(Some(kv("date")))
      case "run" => new Workload(spark, kv).run()
      case other => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }
}

/** The closed operation loop of one workload. */
final class Workload(spark: SparkSession, kv: Map[String, String]) {
  import Json._

  private val sc = spark.sparkContext
  private val seconds = kv("seconds").toDouble
  private val trace = kv("trace") == "1"
  private val minWarm = kv("minWarm").toInt
  private val listener = new LayerListener
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def now: Double = (System.nanoTime() - t0) / 1e9

  private def span[T](name: String, parent: String)(body: => T): (T, Double) = {
    val s = now
    val r = body
    val e = now
    if (trace) spans += Span(name, s, e, parent)
    (r, e - s)
  }

  /** The measured intervals of the open operation, in epoch ms. */
  private val timed = mutable.ArrayBuffer.empty[(Long, Long)]

  /** A span whose time counts toward the operation's time. */
  private def measured[T](name: String, parent: String)(body: => T): (T, Double) = {
    val a = System.currentTimeMillis()
    val r = span(name, parent)(body)
    timed += ((a, System.currentTimeMillis()))
    r
  }

  /** What graft.Bench clears before every sample; here the unpersists
    * finish before the next operation starts. */
  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** RDD blocks the block manager still holds, read after an operation
    * (after releasing a query's result) and before cleanup. */
  private def residue(): (Long, Long) = {
    val blocks = SparkInternals.rddBlocks(sc)
    (blocks.size.toLong, blocks.map(_._2).sum)
  }

  /** Releases a query result's checkpoint blocks, as the program asks its
    * callers to (`Checkpoints.release`), and waits up to 10 s until the
    * block manager has dropped them. */
  private def release(df: DataFrame): Unit = {
    graft.operators.Checkpoints.release(df)
    val ids = df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
    val until = System.nanoTime() + 10000000000L
    while (SparkInternals.rddBlocks(sc).exists(b => ids(b._1)) && System.nanoTime() < until)
      Thread.sleep(5)
  }

  /** Order-insensitive digest of a result: row count, xor and low-bit sum of
    * per-row hashes; doubles are rounded to 6 places before hashing. */
  private def digestCols(df: DataFrame, drop: Set[String] = Set.empty): Seq[Column] = {
    val cols = df.schema.fields.filterNot(f => drop(f.name)).map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }.toSeq
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"), bit_xor(h).as("x"), sum(h.bitwiseAND(0xFFFFFFL)).as("s"))
  }

  private def digestOf(n: Any, x: Any, s: Any): String =
    s"${n}:${Option(x).getOrElse(0)}:${Option(s).getOrElse(0)}"

  def run(): Unit = {
    sc.addSparkListener(listener)
    val tracedOps = mutable.ArrayBuffer.empty[Boolean]
    var i = 0
    def warm(traced: Boolean) = tracedOps.drop(1).count(_ == traced)
    def more: Boolean =
      if (tracedOps.isEmpty) true
      else if (trace) now < seconds || warm(true) < minWarm || warm(false) < 1
      else now < seconds || warm(false) < minWarm
    while (more) {
      // the cold operation runs untraced; a traced run then alternates
      // traced and untraced operations so drift hits both alike
      val traced = trace && i % 2 == 1
      // the operation's own span is the parent of its Runner.run or
      // per-query spans
      val (line, _) = span(s"op$i", "") {
        kv("workload") match {
          case "imdb_daily" => imdbOp(i, traced)
          case _ => queriesOp(i, traced)
        }
      }
      println("OP " + line)
      System.out.flush()
      tracedOps += traced
      i += 1
    }
    sc.removeSparkListener(listener)
    if (trace) Files.write(Paths.get(kv("spans")), arr(spans.toSeq.map(s => obj(
      "name" -> str(s.name), "start" -> num(s.start), "end" -> num(s.end),
      "parent" -> str(s.parent)))).getBytes)
    val conf = sc.getConf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || Set("spark.master", "spark.ui.enabled")(k) }
      .sortBy(_._1)
    println("END " + obj(
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> str(spark.version),
      "conf" -> obj(conf.map { case (k, v) => k -> str(v) }.toSeq: _*)))
    System.out.flush()
  }

  private def open(traced: Boolean): Unit = {
    listener.tracing = traced
    // deep call sites, so the first program frame survives Spark's own frames
    System.setProperty("spark.callstack.depth", if (traced) "400" else "20")
    timed.clear()
    listener.begin()
  }

  private def layersJson(l: LayerListener.Layers): String = obj(
    "modules" -> obj(l.counters.toSeq.map { case (m, v) => m -> arr(v.toSeq.map(num)) }: _*),
    "driver_s" -> num(l.driverS), "materialize_s" -> num(l.materializeS),
    "out_files" -> num(l.outFiles), "commit_s" -> num(l.commitS))

  private def failure(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.toSeq.headOption.getOrElse("").take(300)

  // ── imdb_daily: one Runner.run for the next run date ────────────────────
  private lazy val dates = kv("dates").split(",")
  private val imdbTables = Seq("analytics_movie_facts_v2", "analytics_episode_facts_v2",
    "series_season_summary_v2", "analytics_quality", "marts_top_movies_by_genre",
    "marts_episode_season_trends")

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val w = Files.walk(p); try w.iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum finally w.close() }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) { val w = Files.walk(p)
      try w.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally w.close() }

  private def imdbOp(i: Int, traced: Boolean): String = {
    val raw = kv("raw"); val out = kv("out"); val date = dates(i)
    // every source decides `fetch`: no control record survives a day
    deleteTree(Paths.get(out, "_control"))
    cleanup()
    val before = treeBytes(Paths.get(out))
    open(traced)
    val result = try {
      val (report, secs) = measured("Runner.run", s"op$i") {
        new graft.pipeline.Runner(spark, raw, out).run(Some(date))
      }
      Right((report, secs))
    } catch { case e: Throwable => Left(e) }
    val (blocksLeft, bytesLeft) = residue()
    val layers = listener.end(sc, timed.toSeq)
    val added = treeBytes(Paths.get(out)) - before
    val fields = Seq("i" -> num(i), "traced" -> bool(traced),
      "stored_bytes" -> num(added.toDouble), "stored_peak_bytes" -> num(layers.storedPeakBytes.toDouble),
      "blocks_left" -> num(blocksLeft.toDouble), "bytes_left" -> num(bytesLeft.toDouble),
      "layers" -> layersJson(layers))
    result match {
      case Left(e) => obj(fields ++ Seq("secs" -> num(0), "error" -> str(failure(e))): _*)
      case Right((report, secs)) =>
        val checks = imdbTables.map { t =>
          // read the new slice alone, without listing the history
          val slice = if (t == "analytics_quality") s"$out/$t/dataset=*/run_date=$date"
            else s"$out/$t/run_date=$date"
          val df = spark.read.option("basePath", s"$out/$t").parquet(slice)
          val d = digestCols(df, Set("run_date", "run_date_dt"))
          val r = df.agg(d.head, d.tail: _*).head()
          t -> str(digestOf(r.get(0), r.get(1), r.get(2)))
        }
        obj(fields ++ Seq("secs" -> num(secs),
          "movie_fact_rows" -> num(report.movieFactRows.toDouble),
          "ingest" -> obj(report.ingestStatus.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }: _*),
          "digests" -> obj(checks: _*)): _*)
    }
  }

  // ── ops_loop_pairs: one pass over the (seed-permuted) queries ─────────
  private lazy val queries = kv("queries").split(",").toSeq

  private def queriesOp(i: Int, traced: Boolean): String = {
    val data = kv("data")
    var total = 0.0
    var error: Option[String] = None
    var blocksLeft = 0L; var bytesLeft = 0L
    val perQuery = mutable.ArrayBuffer.empty[(String, String)]
    cleanup()
    open(traced)
    queries.foreach { name =>
      if (error.isEmpty) try {
        val q = graft.Queries.byName(name)
        val (df, build) = measured(s"$name.run", s"op$i")(q.run(spark, data))
        val obs = Observation(s"digest-$i-$name")
        val d = digestCols(df)
        val (_, sink) = measured(s"$name.sink", s"op$i") {
          // the noop sink materializes every row, as in graft.Bench
          df.observe(obs, d.head, d.tail: _*).write.format("noop").mode("overwrite").save()
        }
        val m = obs.get
        total += build + sink
        release(df)
        val (b, by) = residue()
        blocksLeft += b; bytesLeft += by
        perQuery += name -> obj("build_s" -> num(build), "sink_s" -> num(sink),
          "blocks_left" -> num(b.toDouble), "digest" -> str(digestOf(m("n"), m("x"), m("s"))))
        cleanup()
      } catch { case e: Throwable => error = Some(s"$name: " + failure(e)) }
    }
    val layers = listener.end(sc, timed.toSeq)
    val fields = Seq("i" -> num(i), "traced" -> bool(traced), "secs" -> num(total),
      "stored_peak_bytes" -> num(layers.storedPeakBytes.toDouble),
      "blocks_left" -> num(blocksLeft.toDouble), "bytes_left" -> num(bytesLeft.toDouble),
      "queries" -> obj(perQuery.toSeq: _*), "layers" -> layersJson(layers))
    obj(fields ++ error.map(e => "error" -> str(e)): _*)
  }
}

final case class Span(name: String, start: Double, end: Double, parent: String)

/** Just enough JSON writing for the protocol lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
