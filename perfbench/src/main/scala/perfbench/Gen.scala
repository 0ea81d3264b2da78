package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every input a workload feeds the program is
  * derived from `seed` here: the raw OSM-shaped corpus with its admin
  * polygons, the request pools and sequences, and the registry's
  * relational tables. The same seed yields the same inputs
  * (every run checks [[fingerprint]] twice).
  *
  * The request mixes are synthetic: no query log exists to fit them to.
  * The pool sizes, the hint share and the scan pool's mix of kind words
  * and particles are chosen, not measured.
  */
final class Gen(seed: Long) {
  import Gen._

  private def rng(stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  /** Pseudo-words built from syllables: enough distinct trigrams that a
    * full multi-word name is selective in the trigram index. */
  val vocab: IndexedSeq[String] = {
    val r = rng(1)
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < VocabSize) {
      val n = 2 + r.nextInt(2)
      val w = (0 until n).map { _ =>
        s"${cons.charAt(r.nextInt(cons.length))}${vows.charAt(r.nextInt(vows.length))}"
      }.mkString + cons.charAt(r.nextInt(cons.length))
      if (!KindWords.contains(w)) seen += w
    }
    seen.toIndexedSeq
  }

  /** Countries (admin level 2) and their cities (level 6) as
    * axis-aligned polygons. */
  val countries: IndexedSeq[Area] = {
    val r = rng(2)
    (0 until NCountries).map { i =>
      val minx = -170.0 + i * 40.0 + r.nextDouble() * 5
      val miny = -50.0 + (i % 3) * 35.0 + r.nextDouble() * 5
      Area(1000000L + i, s"${vocab(r.nextInt(vocab.size)).capitalize}land",
        s"C$i", 2, minx, miny, minx + 30.0, miny + 25.0)
    }
  }

  val cities: IndexedSeq[(Area, Area)] = {
    val r = rng(3)
    countries.flatMap { c =>
      (0 until CitiesPerCountry).map { j =>
        val minx = c.minx + 1.0 + j * 4.5 + r.nextDouble()
        val miny = c.miny + 2.0 + (j % 3) * 7.0 + r.nextDouble()
        val name = s"${vocab(r.nextInt(vocab.size)).capitalize} ${Suffixes(j % Suffixes.size)}"
        c -> Area(1100000L + c.osmId % 1000 * 100 + j, name, "", 6,
          minx, miny, minx + 1.2, miny + 1.0)
      }
    }
  }

  /** One generated POI before it becomes a raw row. */
  val pois: IndexedSeq[Poi] = {
    val r = rng(4)
    (0 until NPois).map { i =>
      val kind = KindWords(r.nextInt(KindWords.size))
      val a = vocab(r.nextInt(vocab.size)).capitalize
      val b = vocab(r.nextInt(vocab.size)).capitalize
      val particle = if (r.nextInt(100) < 24) Particles(r.nextInt(Particles.size)).capitalize + " " else ""
      val name = s"$a $particle$b ${kind.capitalize}"
      val (country, city) = cities(r.nextInt(cities.size))
      val lat = city.miny + r.nextDouble() * (city.maxy - city.miny)
      val lon = city.minx + r.nextDouble() * (city.maxx - city.minx)
      Poi(i + 1L, name, kind, city.name, country.iso, lat, lon, r.nextInt(10) == 0)
    }
  }

  def rawRows(ps: Seq[Poi]): Seq[Row] = ps.map(poiRow)

  def adminRows: Seq[Row] =
    countries.map(c => Row(c.osmId, c.name, Map(
      "boundary" -> "administrative", "admin_level" -> "2",
      "name:en" -> c.name, "ISO3166-1" -> c.iso), c.wkt)) ++
      cities.map { case (_, c) => Row(c.osmId, c.name, Map(
        "boundary" -> "administrative", "admin_level" -> "6"), c.wkt) }

  def raw(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rawRows(pois) ++ adminRows, 8), RawSchema)

  /** forward_hot's pool: distinct full names, a third carrying a hint
    * (country or city) that resolves to the POI's own admin polygon. */
  val hotPool: IndexedSeq[Req] = {
    val r = rng(5)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    val out = scala.collection.mutable.ArrayBuffer[Req]()
    while (out.size < HotPoolSize) {
      val p = pois(r.nextInt(pois.size))
      // every token indexable (no sub-trigram particle), so the request
      // can take the in-process path
      if (!Particles.exists(x => p.name.contains(s" ${x.capitalize} ")) && seen.add(p.name)) {
        out += (r.nextInt(3) match {
          case 0 if r.nextBoolean() =>
            Req(p.name, country = Some(countries.find(_.iso == p.country).get.name.toLowerCase))
          case 0 => Req(p.name, cityHint = Some(p.city.toLowerCase))
          case _ => Req(p.name)
        })
      }
    }
    out.toIndexedSeq
  }

  /** forward_scan's pool: single unselective tokens — a common kind
    * word matching thousands of POIs, or a sub-trigram particle. */
  val scanPool: IndexedSeq[Req] =
    KindWords.map(Req(_)) ++ Particles.map(Req(_))

  /** A seeded request sequence that cycles through `pool` in one
    * shuffled order, so every run sends nearly the same mix. */
  def cycle(pool: IndexedSeq[Req], stream: Long, n: Int): IndexedSeq[Req] = {
    val r = rng(200 + stream)
    val order = pool.indices.toArray
    for (i <- order.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    IndexedSeq.tabulate(n)(i => pool(order(i % order.length)))
  }

  // ---- registry tables (the relational fixture the registry reads) ----

  /** The tables the `registry_slice` queries read, each with the row
    * count of the TPC-H-shaped sf0.1 fixture the registry is benched on
    * (see the `Reg*` sizes). */
  def registryTables(spark: SparkSession, dir: String): Unit = {
    val r = rng(30000)
    // the tables are small: write them as concurrent one-task jobs
    val writes = scala.collection.mutable.ArrayBuffer[Thread]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val t = new Thread(() =>
        try spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        catch { case e: Throwable => failure.compareAndSet(null, e) })
      t.start()
      writes += t
    }
    def money(x: Double) = math.rint(x * 100) / 100
    val segs = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    write("customer", StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until RegCustomers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r.nextDouble() * 10000 - 1000), segs(r.nextInt(segs.size)))))
    write("supplier", StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until RegSuppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r.nextDouble() * 10000))))
    val adj = Seq("small", "red", "blue", "hot", "cold", "new", "old", "large")
    val noun = Seq("ring", "widget", "bolt", "plate", "gear", "rod", "anvil")
    val ptypes = Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
    write("part", StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until RegParts).map(i => Row(i.toLong, s"${adj(r.nextInt(adj.size))} ${noun(r.nextInt(noun.size))}",
        s"Brand#${1 + r.nextInt(25)}", ptypes(r.nextInt(ptypes.size)), 1 + r.nextInt(50),
        money(900 + i % 1000 / 10.0))))
    val etypes = Seq("click", "signup", "error", "view", "purchase")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val span = 30L * 86400L * 1000000L
    write("events", StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      (0 until RegEvents).map { i =>
        val us = i.toLong * span / RegEvents + r.nextInt(100000)
        Row(i.toLong, t0.plusNanos(us * 1000L), r.nextInt(RegUsers).toLong, etypes(r.nextInt(5)),
          money(r.nextDouble() * r.nextDouble() * 80), s"""{"k": ${r.nextInt(100)}}""")
      })
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    write("documents", StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType))),
      (0 until RegDocuments).map { i =>
        // every 10th document near-duplicates an earlier one, so the
        // dedup families have pairs to find
        val text =
          if (i % 10 == 9) { val r2 = rng(40000 + i - 5); docText(r2) + " dup" }
          else docText(rng(40000 + i))
        Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}", text.length.toLong)
      })
    val centroids = (0 until 10).map(_ => Array.fill(EmbDim)(r.nextDouble() * 2 - 1))
    write("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      (0 until RegEmbeddings).map { i =>
        val l = r.nextInt(10)
        val v = centroids(l).map(c => c + (r.nextDouble() - 0.5) * 0.6)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, l)
      })
    writes.foreach(_.join())
    Option(failure.get()).foreach(e => throw e)
  }

  private def docText(r: SplittableRandom): String =
    (0 until 25 + r.nextInt(60)).map(_ => DocWords(r.nextInt(DocWords.size))).mkString(" ")

  /** Fingerprint of every generated input, for the determinism check. */
  def fingerprint: Long = {
    val h = new java.util.zip.CRC32
    def add(s: String): Unit = h.update(s.getBytes("UTF-8"))
    vocab.foreach(add); countries.foreach(a => add(a.toString)); cities.foreach(c => add(c.toString))
    pois.foreach(p => add(p.toString)); hotPool.foreach(q => add(q.toString))
    cycle(hotPool, 0, 1000).foreach(q => add(q.toString))
    h.getValue
  }

  /** Distinct trigrams over the POI names, as the trigram index sees
    * them (per normalized token). */
  def distinctGrams: Int =
    pois.iterator.flatMap(p => graft.core.Norm.tokenize(p.name))
      .flatMap(t => graft.etl.TrigramIndex.grams(t)).toSet.size
}

object Gen {
  final case class Area(osmId: Long, name: String, iso: String, level: Int,
                        minx: Double, miny: Double, maxx: Double, maxy: Double) {
    def wkt: String = s"POLYGON(($minx $miny, $maxx $miny, $maxx $maxy, $minx $maxy, $minx $miny))"
  }
  final case class Poi(id: Long, name: String, kind: String, city: String,
                       country: String, lat: Double, lon: Double, wikidata: Boolean)
  final case class Req(text: String, country: Option[String] = None,
                       cityHint: Option[String] = None, limit: Int = 5) {
    def json: String = {
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val parts = Seq(s""""candidates":[{"text":${q(text)}}]""") ++
        country.map(c => s""""country":${q(c)}""") ++
        cityHint.map(c => s""""city_hint":${q(c)}""") :+ s""""limit":$limit"""
      parts.mkString("{", ",", "}")
    }
    def toProgram: graft.query.ForwardReq = graft.query.ForwardReq(
      Seq(graft.query.ForwardCandidate(text)), country = country, cityHint = cityHint, limit = limit)
  }

  val NPois = 30000
  val VocabSize = 4000
  val NCountries = 8
  val CitiesPerCountry = 6
  val HotPoolSize = 64
  val EmbDim = 64

  // Row counts of the sf0.1 fixture's tables. g9 builds its POIs from
  // part JOIN customer (15,000 rows), g12 pairs every customer with
  // every supplier's cell, ann_ivf reads every embedding, ta_bm25 the
  // first 2,000 documents (dd_minhash the first 100) and st_sessions
  // every event. The slice reads no other table, so none is generated.
  val RegCustomers = 15000
  val RegSuppliers = 1000
  val RegParts = 20000
  val RegEvents = 100000
  val RegUsers = 1500
  val RegDocuments = 5000
  val RegEmbeddings = 2000

  /** Few enough kinds that each kind word matches more POIs than the
    * fast path's candidate bound (4,096), so a request for one runs the
    * distributed ranking job. */
  val KindWords: IndexedSeq[String] = IndexedSeq("cafe", "market", "hotel", "park", "museum", "bakery")
  val Particles: IndexedSeq[String] = IndexedSeq("mt", "dr", "ny")
  private val Suffixes = IndexedSeq("city", "town", "port", "ville", "burg", "haven")
  private val DocWords = IndexedSeq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private val KindTag = Map("cafe" -> "amenity", "market" -> "shop", "hotel" -> "tourism",
    "park" -> "leisure", "museum" -> "tourism", "bakery" -> "shop")

  val RawSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("wkt", StringType)))

  def poiRow(p: Poi): Row = {
    val tags = Map(KindTag(p.kind) -> p.kind, "addr:city" -> p.city, "addr:country" -> p.country) ++
      (if (p.wikidata) Map("wikidata" -> s"Q${p.id}") else Map.empty)
    Row(p.id, p.name, tags, s"POINT(${p.lon} ${p.lat})")
  }
}
