package perfbench

import graft.extract.Extractor
import graft.ingest.StagingReader
import graft.pipeline.{Pipeline, Warehouse}
import graft.serve.CacheManager
import graft.store.BucketedStore
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The daily run, stage by stage, as the reference's step function runs
  * it: extract (listing + detail pages → staged DTO JSON), load (staged
  * JSON → loader pipeline against the previous stored warehouse →
  * bucketed store) and cache (warm the given dates → KV sink). */
object Etl {
  val PageSchema = "scrape_date string, html string"

  case class DayResult(wh: Warehouse, summary: Map[String, Long],
                       extractS: Double, loadS: Double, cacheS: Double)

  val Tables = Seq(
    "genres" -> Seq("name"), "artists" -> Seq("name"),
    "venues" -> Seq("name", "full_address"), "events" -> Seq("wwoz_event_href"),
    "artist_genres" -> Seq("artist_id", "genre_id"),
    "venue_genres" -> Seq("venue_id", "genre_id"),
    "event_genres" -> Seq("event_id", "genre_id"),
    "artist_relations" -> Seq("artist_id", "related_artist_id"))

  def pages(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (spark.read.schema("href string, html string").json(s"$dir/venues.jsonl"),
      spark.read.schema("artist_name string, html string").json(s"$dir/artists.jsonl"))

  /** One daily run over `listings`, loading into `prev`, storing the
    * result under table prefix `store` (or serving the loader's own
    * frames when `store` is None) and warming the cache for `dates`. */
  def dailyRun(spark: SparkSession, t: Tracer, input: String, listings: String,
               prev: Warehouse, today: String, dates: Seq[String], work: Path,
               store: Option[String], kvDir: String): DayResult = {
    val staging = work.resolve(s"staging-${store.getOrElse("mem")}").toString
    deleteTree(Paths.get(staging))
    val t0 = System.nanoTime()
    t.span("extract.run") {
      val (venuePages, artistPages) = pages(spark, input)
      stage(Extractor.run(spark.read.schema(PageSchema).json(listings),
        venuePages, artistPages), staging)
    }
    val t1 = System.nanoTime()
    val staged = t.span("ingest.read_staged") {
      val df = StagingReader.readStaged(spark, staging).cache()
      df.count()
      df
    }
    val wh = t.span("pipeline.run") { Pipeline.run(spark, staged, prev, today) }
    val stored = store match {
      case Some(prefix) =>
        t.span("store.write") { Etl.store(wh, prefix) }
        spark.catalog.clearCache()
        t.span("store.read") { read(spark, prefix, wh.summary) }
      case None => wh
    }
    val t2 = System.nanoTime()
    val warm = t.span("serve.warm_build") { CacheManager.warmRange(stored, dates, today) }
    t.span("serve.warm_write") {
      warm.select("cache_key", "payload_json", "ttl_s")
        .write.format("graft.sources.KvCacheSink").option("path", kvDir)
        .mode("overwrite").save()
    }
    val t3 = System.nanoTime()
    DayResult(stored, wh.summary, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  /** Stage the extractor's DTO frame the way the reference's loader
    * reads it: one JSON array file per scrape date under `y=/m=/d=`
    * directories. (`StagingReader.writeStaged` writes JSON Lines, which
    * `readStaged`'s multiLine parse reads back as one row per file, so
    * the benchmark cannot chain those two.) */
  def stage(dto: DataFrame, path: String): Unit = {
    val day = to_date(col("scrape_time"))
    dto.select(date_format(day, "yyyy").as("y"), date_format(day, "MM").as("m"),
        date_format(day, "dd").as("d"), to_json(struct(dto.columns.map(col).toIndexedSeq: _*)).as("j"))
      .groupBy("y", "m", "d")
      .agg(concat(lit("["), concat_ws(",", collect_list(col("j"))), lit("]")).as("value"))
      .write.partitionBy("y", "m", "d").text(path)
  }

  /** Save the warehouse's eight tables bucketed by their merge keys. */
  def store(wh: Warehouse, prefix: String): Unit = {
    val parts = Seq(wh.genres, wh.artists, wh.venues, wh.events, wh.artistGenres,
      wh.venueGenres, wh.eventGenres, wh.artistRelations)
    Tables.zip(parts).foreach { case ((name, keys), df) =>
      BucketedStore.saveBucketed(df, s"${prefix}_$name", keys, buckets = 4)
    }
  }

  /** The stored warehouse, read back as the next run's `prev`. */
  def read(spark: SparkSession, store: String, summary: Map[String, Long]): Warehouse = {
    def tbl(n: String) = spark.table(s"${store}_$n")
    Warehouse(tbl("genres"), tbl("artists"), tbl("venues"), tbl("events"),
      tbl("artist_genres"), tbl("venue_genres"), tbl("event_genres"),
      tbl("artist_relations"), Pipeline.emptyWarehouse(spark).quarantine, summary)
  }

  // ------------------------------------------------------------ checks

  def checkSummary(got: Map[String, Long], want: Meta): Option[String] = {
    val bad = want.keys.filter(k => !got.get(k).contains(want.long(k)))
    if (bad.isEmpty) None
    else Some(bad.map(k => s"$k=${got.get(k)} want ${want.long(k)}").mkString(", "))
  }

  /** Foreign keys of the stored warehouse that point at no row. */
  def danglingKeys(w: Warehouse): Option[String] = {
    def missing(label: String, from: DataFrame, fk: String, to: DataFrame) =
      from.select(col(fk).as("k")).join(to.select(col("id").as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit(label).as("fk"), col("n"))
    val checks = Seq(
      missing("events.artist_id", w.events, "artist_id", w.artists),
      missing("events.venue_id", w.events, "venue_id", w.venues),
      missing("artist_genres.artist_id", w.artistGenres, "artist_id", w.artists),
      missing("artist_genres.genre_id", w.artistGenres, "genre_id", w.genres),
      missing("venue_genres.venue_id", w.venueGenres, "venue_id", w.venues),
      missing("event_genres.event_id", w.eventGenres, "event_id", w.events),
      missing("artist_relations.artist_id", w.artistRelations, "artist_id", w.artists),
      missing("artist_relations.related_artist_id", w.artistRelations,
        "related_artist_id", w.artists))
    val bad = checks.reduce(_ unionByName _).collect()
      .filter(_.getLong(1) > 0).map(r => s"${r.getString(0)}: ${r.getLong(1)}")
    if (bad.isEmpty) None else Some("dangling " + bad.mkString(", "))
  }

  /** Events per cached payload, keyed by date. */
  def cachedCounts(spark: SparkSession, kvDir: String): Map[String, Long] =
    spark.read.format("graft.sources.KvCacheSink").option("path", kvDir).load()
      .collect().map(r => r.getString(0).stripPrefix("events:") -> countEvents(r.getString(1)))
      .toMap

  def countEvents(payload: String): Long =
    if (payload == null) -1L else "\"event_id\":".r.findAllMatchIn(payload).size.toLong

  def checkCounts(got: Map[String, Long], want: Meta): Option[String] = {
    val bad = want.keys.filter(d => !got.get(d).contains(want.long(d)))
    if (bad.isEmpty && got.size == want.keys.size) None
    else Some(s"cache n_events differ on ${bad.size} dates " +
      bad.take(3).map(d => s"$d=${got.get(d)} want ${want.long(d)}").mkString(", "))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}

/** `daily_etl`: one client running one daily run at a time, each loading
  * against the warehouse the previous run stored. The first
  * [[DailyEtl.WarmupDays]] generated runs are the untimed warm-up. */
object DailyEtl extends Workload {
  val WarmupDays = 1

  def run(spark: SparkSession, cfg: Config, t: Tracer, ops: Ops, report: Report): Unit = {
    val runs = Meta.parseFile(s"${cfg.input}/meta.json").objs("runs")
    val work = Paths.get(cfg.work)
    def listings(i: Int) = f"${cfg.input}/listings_$i%03d.jsonl"

    // untimed warm-up: run 0 loads into a stored empty warehouse, so it
    // takes the same merge paths as every later run
    t.recording(false)
    Etl.store(Pipeline.emptyWarehouse(spark), "w1")
    var prev = Etl.read(spark, "w1", Map.empty)
    for (i <- 0 until WarmupDays) {
      val m = runs(i)
      val d = Etl.dailyRun(spark, t, cfg.input, listings(i), prev, m.str("today"),
        m.strs("dates"), work, Some(s"w${i % 2}"), work.resolve("kv").toString)
      Etl.checkSummary(d.summary, m.obj("summary")).foreach(e => ops.failCheck(s"warm-up: $e"))
      prev = d.wh
    }
    report.e2e("setup_s", Session.sinceStart, "s")

    // whole days until the days' own measured time reaches --seconds (the
    // untimed checks between them do not count), and at least two, so a
    // slow box does not drop to one sample; a traced run's two are one
    // traced and one untraced day
    val days = Seq.newBuilder[(Etl.DayResult, Double, Boolean, Long)]  // result, s, traced, KV bytes
    var measured = 0.0
    var i = WarmupDays
    val atLeast = WarmupDays + 2
    while (i < runs.size && (i < atLeast || measured < cfg.seconds)) {
      val meta = runs(i)
      val kv = work.resolve("kv").toString
      val store = s"w${i % 2}"
      val traced = i % 2 == 0
      t.recording(traced)
      t.setRequest(i)
      val res = ops.run(s"daily_run_$i") {
        t.span("etl.day") {
          Etl.dailyRun(spark, t, cfg.input, listings(i), prev, meta.str("today"),
            meta.strs("dates"), work, Some(store), kv)
        }
      } { d =>
        Etl.checkSummary(d.summary, meta.obj("summary"))
          .orElse(Etl.danglingKeys(d.wh))
          .orElse(Etl.checkCounts(Etl.cachedCounts(spark, kv), meta.obj("cache_counts")))
      }
      res.foreach { case (d, s) =>
        days += ((d, s, traced, Etl.dirBytes(Paths.get(kv)))); prev = d.wh; measured += s
        System.err.println(f"[perfbench] day $i: $s%.3f s (extract ${d.extractS}%.3f, " +
          f"load ${d.loadS}%.3f, cache ${d.cacheS}%.3f)")
      }
      if (res.isEmpty) prev = Etl.read(spark, store, Map.empty)
      i += 1
    }
    val done = days.result()
    report.operations(done.map(d => ("daily_run", d._2)), measured, done.size.toLong)
    report.show("etl_day_s", Stats.median(done.map(_._2)), "s")
    report.show("etl_extract_s", Stats.median(done.map(_._1.extractS)), "s")
    report.show("etl_load_s", Stats.median(done.map(_._1.loadS)), "s")
    report.show("etl_cache_s", Stats.median(done.map(_._1.cacheS)), "s")
    if (t.enabled) {
      val pages = runs.head.strs("dates").size + lines(s"${cfg.input}/venues.jsonl") +
        lines(s"${cfg.input}/artists.jsonl")
      Layers.daily(t, report, done.map(_._1), done.map(_._4), pages)
      Layers.spark(t, report, done.filter(_._3).map(_._2).sum, cfg.cpus)
      Layers.overhead(t, report, done.filter(_._3).map(_._2).sum,
        done.filter(_._3).map(_._2), done.filterNot(_._3).map(_._2))
      Layers.rootSelf(t, report, _ == "etl.day")
    }
  }

  private def lines(path: String): Long = Files.lines(Paths.get(path)).count()
}
