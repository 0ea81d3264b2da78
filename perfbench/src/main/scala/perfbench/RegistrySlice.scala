package perfbench

import graft.queries.{Q, Registry}

/** `registry_slice`: a slice of the registry's geocode queries
  * (`g<N>_*`) and of its index-lifecycle tier (the names `graft.Bench`
  * classes as `lifecycle`), run over relational tables generated from
  * the seed.
  * An untimed cold pass pays fixture builds and codegen and counts in
  * `setup_s`; timed passes then repeat until the window ends. Each
  * query's harness set-up is excluded through `Q.benchSetupNanos`,
  * exactly as `graft.Bench` does. */
object RegistrySlice {

  /** The slice: per family of the registry's geocode and
    * index-lifecycle tier (`graft.Bench`'s `lifecycle` names), the
    * queries that exercise the layer calls the serving workloads never
    * make: the bulk and reverse geocode joins, append or maintain of
    * the three persisted indexes (VectorIndex, MinHashIndex, TextIndex),
    * and streaming. The whole tier (40 queries, about 95 s cold and
    * 39 s per steady pass on 4 cores) does not fit one run's time
    * budget; the slice keeps one query per family, two for geocode. */
  val Slice: Seq[String] = Seq(
    "g9_geocode_join", "g12_reverse_geocode",
    "ann_ivf_maintain", "dd_minhash_append", "ta_bm25_maintain",
    "st_sessions")

  def selected: Seq[Q] = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    Slice.map(n => byName.getOrElse(n, sys.error(s"registry has no query '$n'")))
  }

  /** Layer of a query, by family: the ext index families, streaming,
    * and the geocode queries. */
  def family(name: String): String =
    if (name.startsWith("st_")) "streaming"
    else Seq("ann_ivf", "dd_minhash", "ta_bm25").find(f => name.startsWith(f + "_")).map("ext." + _)
      .getOrElse("geocode")

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val dir = c.work.resolve("tables").toString
    val qs = selected
    c.log(s"registry slice: ${qs.size} queries: ${qs.map(_.name).mkString(" ")}")

    /** One query run: (rows, wall ns minus harness set-up, window). */
    def once(q: Q, traced: Boolean): (Long, Long, (Long, Long)) = {
      Q.benchSetupNanos.set(0L)
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val n =
        if (traced) c.tracer.span(q.name, family(q.name))(q.run(spark, dir).count())
        else q.run(spark, dir).count()
      val dt = System.nanoTime() - t0; val w1 = System.currentTimeMillis()
      (n, math.max(0L, dt - Q.benchSetupNanos.get()), (w0, w1))
    }

    val s0 = System.nanoTime()
    c.gen.registryTables(spark, dir)
    val cold = qs.map { q =>
      val t = System.nanoTime()
      val n = once(q, traced = false)._1
      c.log(f"cold ${q.name}: ${(System.nanoTime() - t) / 1e9}%.2f s")
      q.name -> n
    }.toMap
    val setupS = (System.nanoTime() - s0) / 1e9
    c.log(f"registry setup (tables + cold pass): $setupS%.1f s")

    var ledger: Option[Ledger] = None
    val walls = scala.collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)
    val windows = scala.collection.mutable.Map[String, Vector[(Long, Long)]]().withDefaultValue(Vector.empty)
    var attempted = 0L
    var failed = 0L
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    var passes = 0
    var baseSweep = 0.0
    // whole passes only, so every query has as many samples as every
    // other: a pass starts while the window is open, so the last one
    // ends after it. The number of passes then changes only when the
    // host's speed moves a pass across the window's end, not with
    // every small change in pass time (the passes still speed up as
    // the JIT warms, so the count matters). A traced run times its
    // first pass untraced, as the baseline for the tracing overhead,
    // and traces the passes after it.
    while (passes == 0 || System.nanoTime() < deadline || (c.trace && passes < 2)) {
      val traced = c.trace && passes > 0
      if (traced && ledger.isEmpty) ledger = Some(new Ledger(spark).start())
      var sweep = 0.0
      for (q <- qs) {
        val (n, ns, w) = once(q, traced)
        attempted += 1
        if (n != cold(q.name)) {
          failed += 1
          c.log(s"check failed: ${q.name} returned $n rows, cold pass returned ${cold(q.name)}")
        }
        sweep += ns / 1e9
        if (traced || !c.trace) {
          walls(q.name) :+= ns / 1e9
          windows(q.name) :+= w
        }
      }
      c.log(f"pass $passes: $sweep%.3f s")
      if (passes == 0) baseSweep = sweep
      passes += 1
    }
    ledger.foreach(_.stop())
    val perQuery = qs.map(q => q.name -> Stats.median(walls(q.name))).toMap
    val sweep = perQuery.values.sum
    val ms = perQuery.values.map(_ * 1000).toSeq
    val e2e = Map("setup_s" -> setupS, "qps" -> qs.size / sweep,
      "p50_ms" -> Stats.pct(ms, 0.5), "tail_ms" -> Stats.pct(ms, 0.9))

    val layer = ledger.map { l =>
      def fam(f: String) = qs.map(_.name).filter(family(_) == f)
      def countsOf(names: Seq[String]) = l.counts(names.flatMap(windows(_)))
      val perPass = walls(qs.head.name).size.toDouble
      val ext = Seq("ann_ivf", "dd_minhash", "ta_bm25").flatMap { f =>
        val names = fam("ext." + f)
        val sc = countsOf(names)
        Seq(s"ext.$f.wall_s" -> names.map(perQuery).sum, s"ext.$f.jobs" -> sc.jobs / perPass,
          s"ext.$f.bytes_written" -> sc.outBytes / perPass)
      }
      val st = fam("streaming")
      val maintain = qs.map(_.name).filter(n => n.endsWith("_maintain") && family(n) != "geocode")
      Map("ext.maintain_s" -> maintain.map(perQuery).sum,
        "streaming.wall_s" -> st.map(perQuery).sum,
        "streaming.jobs" -> countsOf(st).jobs / perPass) ++ ext ++
        Serve.sparkPerOp(countsOf(qs.map(_.name)), perPass * qs.size) +
        ("trace.overhead_pct" -> (sweep / baseSweep - 1) * 100)
    }.getOrElse(Map.empty)

    val info = Map("queries" -> qs.size.toString, "passes" -> passes.toString,
      "sweep_s" -> sweep.toString, "tail_percentile" -> "0.9") ++
      perQuery.map { case (k, v) => s"q.$k" -> f"$v%.4f" }
    Outcome(attempted, failed, e2e, layer, info)
  }
}
