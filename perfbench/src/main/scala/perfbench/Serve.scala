package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.core.{Norm, Settings}
import graft.etl.{GazetteerBuilder, TrigramIndex}
import graft.query.{Bbox, ForwardReq, Hit, Ranking, Repo, ScoutEngine}
import graft.server.{Json, ScoutServer}
import perfbench.Gen.Req

/** The two serving workloads: `forward_hot` and `forward_scan`.
  * Requests go over HTTP to a [[ScoutServer]] from
  * closed-loop clients, each on its own keep-alive connection. */
object Serve {

  /** One completed request as a client saw it. */
  final case class Sample(start: Long, latNs: Long, ok: Boolean)

  private val Path = "/v1/geocode/forward"

  // ---------------------------------------------------------------- checks

  /** The output checks every forward response must pass; returns the
    * reason for a failure, if any. `expected` is the hit list captured
    * in-process at setup for the fixed sample of texts. */
  def check(req: Req, status: Int, body: String,
            expected: Option[IndexedSeq[(Long, Double)]]): Option[String] =
    if (status != 200) Some(s"status $status for '${req.text}': ${body.take(200)}")
    else {
      val hits = WireJson.hits(body)
      val toks = Norm.dedupTokens(Seq(Norm.tokenize(req.text)))
      if (hits.size > req.limit) Some(s"${hits.size} hits > limit ${req.limit} for '${req.text}'")
      else if (hits.zip(hits.drop(1)).exists { case (a, b) =>
          !(a.score > b.score || (a.score == b.score && a.osmId < b.osmId)) })
        Some(s"hits not sorted by (score desc, osm_id asc) for '${req.text}'")
      else hits.find(h => !toks.forall(Norm.canonStr(h.name).contains(_)))
        .map(h => s"hit '${h.name}' misses a token of '${req.text}'")
        .orElse(expected.filter(_ != hits.map(h => (h.osmId, h.score)))
          .map(e => s"hits for '${req.text}' differ from forwardDS: got ${hits.map(_.osmId)}, want ${e.map(_._1)}"))
    }

  /** Hit lists from the program's distributed path, for the sample. */
  def expectedOf(engine: ScoutEngine, sample: Seq[Req]): Map[Req, IndexedSeq[(Long, Double)]] =
    sample.map(r => r -> engine.forwardDS(r.toProgram).collect().toIndexedSeq
      .map(h => (h.osmId, h.score))).toMap

  // ---------------------------------------------------------------- load

  /** Run one closed-loop client per sequence until `deadlineNs`; each
    * client sends its next request only after the previous completed.
    * `onOp` sees every completed request and says whether it passed. */
  def closedLoop(port: Int, seqs: IndexedSeq[IndexedSeq[Req]], deadlineNs: Long)
                (onOp: (Req, Int, String) => Boolean): IndexedSeq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = seqs.indices.map { ci =>
      new Thread(() => {
        val conn = new HttpConn(port)
        try {
          var i = 0
          while (System.nanoTime() < deadlineNs) {
            val req = seqs(ci)(i % seqs(ci).size)
            val t0 = System.nanoTime()
            val (status, body) = conn.post(Path, req.json)
            val lat = System.nanoTime() - t0
            out.add(Sample(t0, lat, onOp(req, status, body)))
            i += 1
          }
        } catch { case e: Throwable => errors.add(e) }
        finally conn.close()
      }, s"perfbench-client-$ci")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
    out.asScala.toIndexedSeq.sortBy(_.start)
  }

  /** Fill the program's driver caches with the pool before timing
    * starts: one multi-candidate request first, whose probe fetches the
    * postings of every pool token in a single job, then each distinct
    * request once, spread over `n` connections, for its rows and area
    * hint. */
  def warm(port: Int, pool: Seq[Req], n: Int): Unit = {
    val all = pool.map(_.text).distinct
      .map(t => s"""{"text":${Main.q(t)}}""").mkString("""{"candidates":[""", ",", """],"limit":1}""")
    val c0 = new HttpConn(port)
    try c0.post(Path, all) finally c0.close()
    val parts = pool.distinct.zipWithIndex.groupBy(_._2 % n).values.map(_.map(_._1).toIndexedSeq).toIndexedSeq
    val threads = parts.map(p => new Thread(() => {
      val conn = new HttpConn(port)
      try p.foreach(r => conn.post(Path, r.json)) finally conn.close()
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
  }

  /** End-to-end metrics from the client samples of one timed window. */
  def e2e(samples: Seq[Sample], seconds: Double, setupS: Double, tailP: Double): Map[String, Double] = {
    val ms = samples.map(_.latNs / 1e6)
    Map("setup_s" -> setupS, "qps" -> samples.count(_.ok) / seconds,
      "p50_ms" -> Stats.pct(ms, 0.5), "tail_ms" -> Stats.pct(ms, tailP))
  }

  // ---------------------------------------------------------------- setup

  final class Served(val engine: ScoutEngine, val server: ScoutServer, val dir: String,
                     val buildS: Double) extends AutoCloseable {
    def port: Int = server.boundPort
    def close(): Unit = { server.stop(); engine.close() }
  }

  /** Set-up of a forward workload, timed as `setup_s`: build the
    * gazetteer from the seeded corpus, bind the engine, start the
    * server and warm the pool. It runs once per run: a second build
    * and warm-up would cost 20-25 s of a run whose whole time budget is
    * about 40 s. */
  def setUp(c: Ctx, pool: Seq[Req], warmConns: Int): (Served, Double) = {
    val dir = c.work.resolve("gaz").toString
    val t0 = System.nanoTime()
    GazetteerBuilder.write(c.spark, c.gen.raw(c.spark), dir, source = "perfbench")
    val buildS = (System.nanoTime() - t0) / 1e9
    val engine = ScoutEngine.fromPath(c.spark, dir)
    val srv = new Served(engine, new ScoutServer(engine, port = 0).start(), dir, buildS)
    warm(srv.port, pool, warmConns)
    val setupS = (System.nanoTime() - t0) / 1e9
    c.log(f"setup: $setupS%.2f s (gazetteer build $buildS%.2f s)")
    (srv, setupS)
  }

  // ---------------------------------------------------------------- forward

  /** Each client cycles through the pool in its own seeded order. The
    * tail is p98: the highest percentile with at least ten of the run's
    * ~900 samples beyond it. */
  def forwardHot(c: Ctx): Outcome =
    forward(c, c.gen.hotPool, clients = c.nproc, tailP = 0.98, sample = c.gen.hotPool.take(8),
      seq = ci => c.gen.cycle(c.gen.hotPool, ci, 100000))

  /** Scan requests cycle through the pool too: a run sends only about
    * 35 of them, so the tail is p75, which leaves about nine samples
    * beyond it. */
  def forwardScan(c: Ctx): Outcome =
    forward(c, c.gen.scanPool, clients = 2, tailP = 0.75,
      sample = c.gen.scanPool.indices.collect { case i if i % 3 == 0 => c.gen.scanPool(i) },
      seq = ci => c.gen.cycle(c.gen.scanPool, ci, 100000))

  private def forward(c: Ctx, pool: IndexedSeq[Req], clients: Int, tailP: Double,
                      sample: Seq[Req], seq: Int => IndexedSeq[Req]): Outcome = {
    val (srv, setupS) = setUp(c, pool, clients)
    try {
      val expected = expectedOf(srv.engine, sample)
      val failures = new ConcurrentLinkedQueue[String]()
      def onOp(req: Req, status: Int, body: String): Boolean =
        check(req, status, body, expected.get(req)) match {
          case None => true
          case Some(f) => failures.add(f); false
        }
      val info = Map("corpus_pois" -> Gen.NPois.toString, "pool" -> pool.size.toString,
        "clients" -> (if (c.trace) 1 else clients).toString, "tail_percentile" -> tailP.toString) ++
        cacheReport(c)
      if (!c.trace) {
        val seqs = (0 until clients).map(seq)
        val t0 = System.nanoTime()
        val samples = closedLoop(srv.port, seqs, t0 + c.seconds * 1000000000L)(onOp)
        val secs = (System.nanoTime() - t0) / 1e9
        report(c, failures)
        Outcome(samples.size, samples.count(!_.ok), e2e(samples, secs, setupS, tailP), Map.empty,
          info + ("n_samples" -> samples.size.toString))
      } else {
        val out = traced(c, srv, pool, seq(0), onOp)
        report(c, failures)
        out.copy(info = info)
      }
    } finally srv.close()
  }

  private def report(c: Ctx, failures: ConcurrentLinkedQueue[String]): Unit =
    failures.asScala.take(5).foreach(f => c.log(s"check failed: $f"))

  /** Input sizes against the program's own caches and bounds. */
  private def cacheReport(c: Ctx): Map[String, String] = {
    val gen = c.gen
    val hints = gen.hotPool.flatMap(r => r.country.orElse(r.cityHint)).distinct.size
    val names = gen.pois.map(p => Norm.canonStr(p.name))
    def matches(r: Req) = {
      val toks = Norm.tokenize(r.text)
      names.count(n => toks.forall(n.contains))
    }
    val m = Map(
      "rows_vs_PoiRowCache" -> s"${Gen.NPois}/262144",
      "grams_vs_PostingCache" -> s"${gen.distinctGrams}/65536",
      "hint_pairs_vs_bbox_lru" -> s"$hints/1024",
      "hot_max_candidates_vs_fast_path_bound" -> s"${gen.hotPool.map(matches).max}/4096",
      // the two-letter scan tokens are below the trigram size: never indexable
      "scan_word_min_candidates_vs_fast_path_bound" ->
        s"${gen.scanPool.filter(_.text.length >= 3).map(matches).min}/4096")
    c.log("inputs vs caches: " + m.map { case (k, v) => s"$k=$v" }.mkString(", "))
    m
  }

  // ---------------------------------------------------------------- traced

  /** A serving-side view of one POI, for the per-layer replay. */
  private final case class Row(name: String, nameLocal: String, nameEn: String, nl: String, ne: String,
                               kind: String, imp: Option[Double], lat: Double, lon: Double)

  /** Traced forward run. One client drives the seeded sequence: the
    * first half of the window untraced, the second half traced, so the
    * tracing overhead is measured on the same client and mix. Per op,
    * after the HTTP round trip, the benchmark replays the request
    * through the layers' public calls: the server's JSON parse, the
    * engine's forward, the tokenizer, a trigram probe on its own
    * posting cache, per-candidate scoring, and the response write.
    *
    * The replay is the benchmark's, not the program's: the candidate
    * count comes from the probe, but the re-verify and bbox filters in
    * front of scoring and the WRatio call count are the benchmark's
    * copy of what `forwardFast` and `Ranking.scoreScalar` do today, so
    * they do not follow a change inside those functions. Spans of the
    * benchmark's own glue are tagged `bench`, and the HTTP round trip
    * (which covers the server and the forward it runs) `round_trip`;
    * neither counts toward a layer's self time. */
  private def traced(c: Ctx, srv: Served, pool: IndexedSeq[Req], seq: IndexedSeq[Req],
                     onOp: (Req, Int, String) => Boolean): Outcome = {
    val spark = c.spark
    val tr = c.tracer
    val engine = srv.engine
    val settings = Settings()
    val pois = spark.read.parquet(s"${srv.dir}/pois")
    val rows: Map[Long, Row] = pois.select("osm_id", "name_local", "name_en", "name_local_norm",
        "name_en_norm", "kind", "importance", "lat", "lon").collect().map { r =>
      r.getLong(0) -> Row(Option(r.getString(1)).getOrElse(r.getString(2)), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)), r.getDouble(7), r.getDouble(8))
    }.toMap
    val cache = new TrigramIndex.PostingCache(TrigramIndex.packed(spark.read.parquet(s"${srv.dir}/name_index")))
    val admin = spark.read.parquet(s"${srv.dir}/admin").cache()
    val bboxes = scala.collection.mutable.Map[(Option[String], Option[String]), Option[Bbox]]()
    pool.foreach { r => // warm the benchmark's own caches outside the timed window
      TrigramIndex.probeIdsCached(cache, Norm.dedupTokens(Seq(Norm.tokenize(r.text))))
      bboxes.getOrElseUpdate((r.cityHint, r.country), Repo.resolveAreaBbox(admin, r.cityHint, r.country))
    }
    val half = c.seconds * 500000000L

    // untraced half: the baseline for the tracing overhead
    val t0 = System.nanoTime()
    val base = closedLoop(srv.port, IndexedSeq(seq), t0 + half)(onOp)
    val ledger = new Ledger(spark).start()
    val conn = new HttpConn(srv.port)
    val ops = scala.collection.mutable.ArrayBuffer[OpTrace]()
    val deadline = System.nanoTime() + half
    var i = base.size
    try while (System.nanoTime() < deadline) {
      val req = seq(i % seq.size)
      i += 1
      ops += tr.span("op", "bench") {
        val w0 = System.currentTimeMillis(); val h0 = System.nanoTime()
        val (status, body) = tr.span("http", "round_trip")(conn.post(Path, req.json))
        val httpNs = System.nanoTime() - h0; val w1 = System.currentTimeMillis()
        val ok = onOp(req, status, body)
        val preq = time(tr.span("parse", "server")(parseLikeServer(req.json)))
        val fast = time(tr.span("forward_fast", "query")(engine.forwardFast(preq._1)))
        val job = if (fast._1.isDefined) None
                  else Some(time(tr.span("forward_job", "query")(engine.forwardDS(preq._1).collect().toIndexedSeq)))
        val hits = fast._1.getOrElse(job.get._1)
        // layer decomposition of the in-process path; scoring is
        // replayed only when the engine itself took that path
        val dec = tr.span("decompose", "bench") {
          val toks = time(tr.span("tokenize", "core")(Norm.dedupTokens(Seq(Norm.tokenize(preq._1.candidates.head.text)))))
          val probe = time(tr.span("probe", "etl")(TrigramIndex.probeIdsCached(cache, toks._1)))
          val bbox = bboxes((req.cityHint, req.country))
          val scored = probe._1.filter(_ => fast._1.isDefined).map { ids =>
            val cands = ids.toIndexedSeq.flatMap(rows.get).filter(r =>
              toks._1.forall(t => (r.nl != null && r.nl.contains(t)) || (r.ne != null && r.ne.contains(t))))
              .filter(r => bbox.forall(b => r.lat >= b.miny && r.lat <= b.maxy && r.lon >= b.minx && r.lon <= b.maxx))
            val sc = time(tr.span("score", "core")(cands.map(r => Ranking.scoreScalar(Seq(req.text), bbox, settings,
              r.nameLocal, r.nameEn, r.nl, r.ne, r.kind, r.imp, r.lat, r.lon))))
            // scoreScalar's WRatio calls: one per non-empty query norm
            // and non-empty target (a name's norm, else its raw name normed)
            val qs = Seq(Norm.norm(req.text)).count(_.nonEmpty)
            def target(n: String, raw: String) = if (n != null && n.nonEmpty) n else Norm.norm(raw)
            val calls = cands.map(r => qs * Seq(target(r.nl, r.nameLocal), target(r.ne, r.nameEn))
              .count(_.nonEmpty)).sum
            (cands.size, sc._2, calls)
          }
          (toks._2, probe._1.map(_.length), probe._2, scored)
        }
    val write = time(tr.span("write", "server")(Json.write(Json.Obj(Map("hits" -> Json.Arr(hits.map(hitJson)))))))
        OpTrace(ok, httpNs, (w0, w1), preq._2, fast._1.isDefined, if (fast._1.isDefined) fast._2 else job.get._2,
          job.isDefined, dec._1, dec._2, dec._3, dec._4, hits.size, write._2)
      }
    } finally conn.close()
    ledger.stop()
    admin.unpersist()

    val n = ops.size.toDouble
    val baseMs = Stats.median(base.map(_.latNs / 1e6))
    val tracedMs = Stats.median(ops.map(_.httpNs / 1e6).toSeq)
    val sc = ledger.counts(ops.map(_.window).toSeq)
    val self = tr.selfNsByLayer
    val probed = ops.filter(_.candidates.isDefined)
    val scored = ops.flatMap(_.scored)
    val layer = Map(
      "server.overhead_ms" -> Stats.median(ops.map(o => (o.httpNs - o.forwardNs) / 1e6).toSeq),
      "server.parse_us" -> Stats.median(ops.map(_.parseNs / 1e3).toSeq),
      "server.write_us" -> Stats.median(ops.map(_.writeNs / 1e3).toSeq),
      "query.fast_ratio" -> ops.count(_.fast) / n,
      "query.fast_us" -> Stats.median(ops.filter(_.fast).map(_.forwardNs / 1e3).toSeq),
      "query.job_ms" -> Stats.median(ops.filter(_.job).map(_.forwardNs / 1e6).toSeq),
      "query.self_ms" -> self.getOrElse("query", 0L) / 1e6 / n,
      "core.tokenize_us" -> Stats.median(ops.map(_.tokenizeNs / 1e3).toSeq),
      "core.score_us" -> (if (scored.map(_._1).sum == 0) 0.0 else scored.map(_._2).sum / 1e3 / scored.map(_._1).sum),
      "core.wratio_calls" -> scored.map(_._3).sum / n,
      "core.self_ms" -> self.getOrElse("core", 0L) / 1e6 / n,
      "etl.probe_us" -> Stats.median(probed.map(_.probeNs / 1e3).toSeq),
      "etl.candidates" -> Stats.median(probed.map(_.candidates.get.toDouble).toSeq),
      "etl.hit_ratio" -> {
        val cand = probed.map(_.candidates.get).sum
        if (cand == 0) 0.0 else probed.map(_.hits).sum.toDouble / cand
      },
      "etl.build_s" -> srv.buildS,
      "etl.self_ms" -> self.getOrElse("etl", 0L) / 1e6 / n,
      "trace.overhead_pct" -> (tracedMs / baseMs - 1) * 100) ++ sparkPerOp(sc, n)
    Outcome(base.size + ops.size, base.count(!_.ok) + ops.count(!_.ok), Map.empty,
      layer.map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }, Map.empty)
  }

  private final case class OpTrace(ok: Boolean, httpNs: Long, window: (Long, Long), parseNs: Long,
                                   fast: Boolean, forwardNs: Long, job: Boolean, tokenizeNs: Long,
                                   candidates: Option[Int], probeNs: Long,
                                   scored: Option[(Int, Long, Int)], hits: Int, writeNs: Long)

  def sparkPerOp(sc: Ledger#Counts, n: Double): Map[String, Double] = Map(
    "spark.jobs_per_op" -> sc.jobs / n, "spark.tasks_per_op" -> sc.tasks / n,
    "spark.analysis_ms" -> sc.analysisMs / n, "spark.optimize_ms" -> sc.optimizeMs / n,
    "spark.plan_ms" -> sc.planMs / n, "spark.exec_ms" -> sc.execMs / n,
    "spark.task_cpu_ms" -> sc.cpuMs / n, "spark.shuffle_bytes" -> sc.shuffleBytes / n)

  def time[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** The server's request decoding, through the program's JSON reader. */
  private def parseLikeServer(body: String): ForwardReq = {
    import Json._
    val o = Json.parse(body).asObj
    ForwardReq(
      candidates = o("candidates").asArr.map(c => graft.query.ForwardCandidate(c.asObj("text").asStr)),
      country = o.get("country").collect { case Str(s) => s },
      cityHint = o.get("city_hint").collect { case Str(s) => s },
      limit = o.get("limit").collect { case Num(d) => d.toInt }.getOrElse(5))
  }

  /** The server's hit encoding, through the program's JSON writer. */
  private def hitJson(h: Hit): Json.Value = {
    import Json._
    Obj(Map("name" -> Str(h.name), "lat" -> Num(h.lat), "lon" -> Num(h.lon),
      "country" -> h.country.map(Str).getOrElse(Null), "state" -> h.state.map(Str).getOrElse(Null),
      "city" -> h.city.map(Str).getOrElse(Null), "osm_id" -> Num(h.osmId.toDouble),
      "kind" -> Str(h.kind), "score" -> Num(h.score)))
  }
}
