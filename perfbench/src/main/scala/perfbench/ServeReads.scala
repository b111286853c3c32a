package perfbench

import graft.pipeline.Pipeline
import graft.serve.{CacheManager, Serving}
import graft.vector.{HnswIndex, VectorFunctions}
import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** `serve_reads`: two closed-loop clients reading what a daily run
  * leaves behind — the stored warehouse and the KV cache warmed from it —
  * plus the `events` table and an ANN index over the artists' embeddings.
  * The daily run and the index build are set-up. */
object ServeReads extends Workload {
  val K = 20
  val Clients = 2
  val WarmupRequests = 40

  def run(spark: SparkSession, cfg: Config, t: Tracer, ops: Ops, report: Report): Unit = {
    val meta = Meta.parseFile(s"${cfg.input}/meta.json")
    val work = Paths.get(cfg.work)
    val today = meta.str("today")
    val window = meta.strs("window")
    val kvDir = work.resolve("kv").toString
    t.recording(false)

    // set-up: one daily run over the past week and the window, loading
    // into an empty warehouse and warming the window's cache
    val counts = meta.obj("cache_counts")
    val pastCounts = meta.obj("past_counts")
    val tw = System.nanoTime()
    val setupRun = Etl.dailyRun(spark, t, cfg.input, s"${cfg.input}/listings_000.jsonl",
      Pipeline.emptyWarehouse(spark), today, window, work, Some("w0"), kvDir)
    val dailyRunS = (System.nanoTime() - tw) / 1e9
    val wh = setupRun.wh
    Etl.checkSummary(setupRun.summary, meta.obj("summary"))
      .foreach(e => ops.failCheck(s"set-up daily run: $e"))

    // set-up: the ANN index over artist embeddings
    val base = wh.artists.filter(col("description_embedding").isNotNull)
      .select(col("id"), col("name"), col("description_embedding")).cache()
    val indexPath = work.resolve("artist-index").toString
    val t0 = System.nanoTime()
    HnswIndex.writeGraphIndex(base, "description_embedding", "id", indexPath)
    val indexBuildS = (System.nanoTime() - t0) / 1e9
    val vectors: Map[Long, Array[Float]] = base.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](2).toArray).toMap
    val idOf: Map[String, Long] = base.select("name", "id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val neighbours = math.min(K, vectors.size)  // tiny inputs embed fewer than K artists
    val events = graft.Tables.events(spark, cfg.input).cache()
    events.count()
    val dayCounts = meta.obj("day_counts")
    val kv = spark.read.format("graft.sources.KvCacheSink").option("path", kvDir).load()

    // ------------------------------------------------------- operations
    def hit(date: String): Option[String] = {
      val rows = t.span("sources.kv_get") { CacheManager.cacheGet(kv, date).collect() }
      if (rows.length != 1) Some(s"hit $date: ${rows.length} rows")
      else same(s"hit $date", Etl.countEvents(rows(0).getString(1)), counts.long(date))
    }
    def miss(date: String): Option[String] = {
      val rows = t.span("serve.cache_payload") {
        CacheManager.cachePayload(wh, date, today).collect()
      }
      if (rows.length != 1) Some(s"miss $date: ${rows.length} rows")
      else same(s"miss $date", rows(0).getAs[Long]("n_events"), pastCounts.long(date))
    }
    def day(date: String): Option[String] = {
      val n = t.span("serve.events_by_date") {
        Serving.eventsByDate(events, date, today).collect().length.toLong
      }
      same(s"day $date", n, if (dayCounts.keys.contains(date)) dayCounts.long(date) else 0L)
    }
    val similarSeen = new ConcurrentLinkedQueue[(String, Seq[(Long, Double)])]()
    def similar(name: String): Option[String] = {
      val q = vectors(idOf(name))
      val got = t.span("vector.search") {
        HnswIndex.searchGraphIndex(spark, indexPath, "id", Seq((0L, q)), neighbours).collect()
      }.map(r => (r.getLong(1), r.getDouble(2))).toSeq
      similarSeen.add(name -> got)
      val wrong = got.count { case (id, s) => math.abs(s - cosine(q, vectors(id))) > 1e-6 }
      if (got.size != neighbours) Some(s"similar $name: ${got.size} results")
      else if (wrong > 0) Some(s"similar $name: $wrong scores differ from the exact cosine")
      else None
    }
    def perform(op: String, arg: String): Option[String] = op match {
      case "hit" => hit(arg)
      case "miss" => miss(arg)
      case "day" => day(arg)
      case "similar" => similar(arg)
    }

    // ------------------------------------------------- closed-loop clients
    // the clients take alternate entries of the seeded schedule; a traced
    // run records spans on every other timed request of each client
    val sched = meta.rows("schedule").map(s => (s.head, s(1)))
    val latencies = new ConcurrentLinkedQueue[(String, Double, Boolean)]()
    val requests = new AtomicLong(0)
    def clients(from: Int, until: Int, seconds: Double, timed: Boolean): Double = {
      val started = System.nanoTime()
      def elapsed = (System.nanoTime() - started) / 1e9
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          var k = from + c
          t.recording(false)  // spans are recorded on timed requests only
          while (elapsed < seconds && k < until) {
            val (op, arg) = sched(k)
            if (!timed)
              try perform(op, arg).foreach(e => ops.failCheck(s"warm-up $e"))
              catch { case NonFatal(e) => ops.failCheck(s"warm-up $op $arg: $e") }
            else {
              val traced = t.enabled && ((k - from) / Clients) % 2 == 0
              t.recording(traced)
              t.setRequest(requests.incrementAndGet())
              ops.run(s"$op $arg")(t.span(s"serve.$op")(perform(op, arg)))(identity)
                .foreach { case (_, s) => latencies.add((op, s, traced)) }
            }
            k += Clients
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      elapsed
    }

    // untimed warm-up: the first requests of the schedule, run by the same
    // two clients (after the set-up daily run, hit latencies still fall by
    // about a third over the next 40 or so reads while the JIT compiles the
    // read paths)
    clients(0, WarmupRequests, Double.MaxValue, timed = false)
    similarSeen.clear()
    report.e2e("setup_s", Session.sinceStart, "s")

    val measured = clients(WarmupRequests, sched.size, cfg.seconds, timed = true)
    t.recording(false)

    // ----------------------------------------------------- untimed checks
    // the set-up daily run's warehouse and cache (the readers change neither)
    Etl.danglingKeys(wh).orElse(Etl.checkCounts(Etl.cachedCounts(spark, kvDir), counts))
      .foreach(e => ops.failCheck(s"set-up daily run: $e"))
    // sampled hits equal a freshly computed payload, byte for byte
    window.filter(d => counts.long(d) > 0).take(3).foreach { d =>
      val cached = CacheManager.cacheGet(kv, d).collect().map(_.getString(1))
      val fresh = CacheManager.cachePayload(wh, d, today).collect().map(_.getString(1))
      if (!cached.sameElements(fresh)) ops.failCheck(s"cached payload for $d differs from cachePayload")
    }
    // tie-aware recall@K against the exact VectorFunctions.topK: a returned
    // neighbour counts when its score reaches the exact K-th score (the
    // embeddings hash artist names, which share tokens, so exact score ties
    // are common)
    val seen = similarSeen.asScala.toSeq
    val kth = seen.map(_._1).distinct.map { name =>
      name -> VectorFunctions.topK(base, "description_embedding", "id", vectors(idOf(name)),
        neighbours)
        .collect().map(_.getDouble(1)).last
    }.toMap
    val recalls = seen.map { case (name, got) =>
      got.count(_._2 >= kth(name) - 1e-9).toDouble / neighbours
    }
    val recall = if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.size
    if (recall < 0.9) ops.failCheck(s"similar recall@$K $recall below 0.9")

    val all = latencies.asScala.toSeq
    report.operations(all.map(x => (x._1, x._2)), measured, all.size.toLong)
    def p50(op: String) = Stats.median(all.filter(_._1 == op).map(_._2)) * 1e3
    report.show("serve_hit_p50_ms", p50("hit"), "ms")
    report.show("serve_miss_p50_ms", p50("miss"), "ms")
    report.show("serve_day_p50_ms", p50("day"), "ms")
    report.show("serve_similar_p50_ms", p50("similar"), "ms")
    report.show("serve_similar_recall", recall, "ratio")
    report.show("vector_index_build_s", indexBuildS, "s")
    report.show("setup_daily_run_s", dailyRunS, "s")

    if (t.enabled) {
      def med(name: String) = Stats.median(t.allSpans.filter(_.name == name).map(_.seconds)) * 1e3
      report.layer("serve.cache_payload_ms", med("serve.cache_payload"), "ms")
      report.layer("serve.events_by_date_ms", med("serve.events_by_date"), "ms")
      report.layer("sources.kv_get_ms", med("sources.kv_get"), "ms")
      report.layer("vector.search_ms", med("vector.search"), "ms")
      report.layer("vector.index_build_s", indexBuildS, "s")
      report.layer("vector.similar_recall", recall, "ratio")
      val hits = all.filter(_._1 == "hit")
      Layers.spark(t, report, all.filter(_._3).map(_._2).sum, cfg.cpus)
      Layers.overhead(t, report, all.filter(_._3).map(_._2).sum,
        hits.filter(_._3).map(_._2), hits.filterNot(_._3).map(_._2))
      Layers.rootSelf(t, report, _.startsWith("serve."))
    }
  }

  private def same(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: $got events, want $want")

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }
}
