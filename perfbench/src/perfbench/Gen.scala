package perfbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** Seeded input generators for the three workloads. Every generator is
  * a pure function of its seed and the fixture base (documents text,
  * embedding vectors): the same seed gives byte-identical inputs, and
  * the sizes and shares that shape the work (batch size, re-scrape
  * share, near-duplicate share, query mix) do not depend on the seed.
  */
object Gen {

  final case class Doc(id: Long, text: String, lang: String)

  /** One raw scraped record in `IncrementalIngest.rawSchema` shape. The
    * generator key rides in the url; `date` is what the time string
    * says (None when it is unparseable or absent). */
  final case class Rec(key: Long, title: String, time: String,
      venue: String, lineup: Vector[(String, String)], url: String,
      genres: Vector[String], price: String, scrapedAt: String,
      date: Option[LocalDate]) {
    def json: String = {
      val acts = lineup.map { case (n, r) =>
        s"""{"name":${Json.str(n)},"role":${Json.str(r)}}""" }
      s"""{"title":${Json.str(title)},"time":${Json.str(time)},""" +
        s""""venue":${Json.str(venue)},"lineup":${acts.mkString("[", ",", "]")},""" +
        s""""url":${Json.str(url)},""" +
        s""""genres":${if (genres == null) "null" else genres.map(Json.str).mkString("[", ",", "]")},""" +
        s""""price_text":${Json.str(price)},"scraped_at":${Json.str(scrapedAt)}}"""
    }
  }

  val now: LocalDate = LocalDate.parse("2025-06-10")
  val nowIso = "2025-06-10T00:00:00Z"

  private val fmts = Vector("d MMMM yyyy", "yyyy-MM-dd", "d/M/yyyy",
    "EEEE d MMMM yyyy", "d MMM yyyy")
    .map(DateTimeFormatter.ofPattern(_, Locale.US))
  private val titleShapes = Vector("Noche %s", "Fiesta %s 2025", "Live %s",
    "*** %s ***!!!", "%S")
  private val genreSets = Vector(Vector("techno", "deep-house"),
    Vector("house"), Vector("ambient"), null)
  private val roles = Vector[String](null, "Live", "VJ")

  def keyOfUrl(url: String): Long =
    url.substring(url.lastIndexOf('/') + 1).toLong

  private def words(d: Doc) = d.text.split(" ").filter(_.nonEmpty)

  /** A fresh event: title from a fixture document, key-unique so that
    * the program's (title, date) identity and the generator's key agree. */
  private def fresh(r: SplittableRandom, docs: IndexedSeq[Doc], key: Long,
      date: Option[LocalDate], time: String, venue: String,
      scrapedAt: String): Rec = {
    val w = words(docs(r.nextInt(docs.length)))
    val n = math.min(w.length, 3 + r.nextInt(6))
    val start = r.nextInt(w.length - n + 1)
    val base = w.slice(start, start + n).mkString(" ")
    val title = titleShapes(r.nextInt(titleShapes.length))
      .format(base) + s" #$key"
    val lineup = Vector.tabulate(r.nextInt(5))(j =>
      (s"DJ ${r.nextInt(97)}", roles(j % 3)))
    Rec(key, title, time, venue, lineup,
      s"https://events.example.com/e/$key",
      genreSets(r.nextInt(genreSets.length)), price(r), scrapedAt, date)
  }

  private def price(r: SplittableRandom): String = {
    val amt = 2 + r.nextInt(600)
    r.nextInt(7) match {
      case 0 => s"From €$amt"
      case 1 => "free entry"
      case 2 => s"£$amt"
      case 3 => s"$amt EUR"
      case 4 => null
      case 5 => "tba"
      case _ => s"$$$amt.50"
    }
  }

  private def fmt(r: SplittableRandom, d: LocalDate): String =
    fmts(r.nextInt(fmts.length)).format(d)

  /** Raw scrape batches for `ingest`. Each batch has `batchSize`
    * records: from the second batch on, a third are re-scrapes of
    * events from the last eight batches (half byte-identical apart from
    * scraped_at, half with a changed price), a tenth are new events
    * whose text nearly duplicates an earlier event, and the rest are
    * new. New events of batch b fall in a 4-month window that slides
    * with b; one in twenty has an unparseable or missing date. */
  final class Ingest(seed: Long, docs: IndexedSeq[Doc], batchSize: Int) {
    private val venues = Vector("amnesia", "pacha", "hi ibiza", "dc10",
      "ushuaia", "Secret Garden", "Bora Bora Beach", null)
    private var batchNo = 0
    private var nextKey = 0L
    // latest version of every key, and each batch's keys (re-scrape pool)
    val latest = scala.collection.mutable.LongMap.empty[Rec]
    private val recent = scala.collection.mutable.Queue.empty[Vector[Long]]
    private val freshPool = scala.collection.mutable.ArrayBuffer.empty[Long]

    private def rescrapes(b: Int): Int = if (b == 0) 0 else batchSize / 3
    private def nearDups(b: Int): Int = if (b == 0) 0 else batchSize / 10

    def next(): Vector[Rec] = {
      val b = batchNo
      val r = new SplittableRandom(seed * 1000003L + b)
      val scrapedAt = LocalDate.parse("2025-01-01").atStartOfDay
        .plusMinutes(b.toLong).toString + ":00Z"
      val out = Vector.newBuilder[Rec]
      val pool = recent.flatten.toVector
      val picked = scala.collection.mutable.HashSet.empty[Long]
      for (_ <- 0 until rescrapes(b)) {
        var k = pool(r.nextInt(pool.length))
        while (picked.contains(k)) k = pool(r.nextInt(pool.length))
        picked += k
        val prev = latest(k)
        out += (if (r.nextBoolean()) prev.copy(scrapedAt = scrapedAt)
          else prev.copy(price = s"${2 + r.nextInt(600)} EUR",
            scrapedAt = scrapedAt))
      }
      for (_ <- 0 until nearDups(b)) {
        val src = latest(freshPool(r.nextInt(freshPool.length)))
        val key = nextKey; nextKey += 1
        val ws = src.title.split(" ")
        val i = r.nextInt(ws.length - 1)
        ws(i) = ws(i) + "s"
        ws(ws.length - 1) = s"#$key"
        out += src.copy(key = key, title = ws.mkString(" "),
          url = s"https://events.example.com/e/$key", scrapedAt = scrapedAt)
      }
      val nFresh = batchSize - rescrapes(b) - nearDups(b)
      for (_ <- 0 until nFresh) {
        val key = nextKey; nextKey += 1
        val d = now.plusDays(-150L + 5L * b + r.nextInt(120))
        val (date, time) = r.nextInt(20) match {
          case 0 => (None, if (r.nextBoolean()) "tba soon" else null)
          case _ => (Some(d), fmt(r, d))
        }
        out += fresh(r, docs, key, date, time,
          venues(r.nextInt(venues.length)), scrapedAt)
        freshPool += key
      }
      val batch = out.result()
      batch.foreach(x => latest(x.key) = x)
      recent.enqueue(batch.map(_.key))
      if (recent.length > 8) recent.dequeue()
      batchNo += 1
      batch
    }
  }

  /** The month-partitioned events table for `serve`: `n` distinct
    * events, every date parseable, venues Zipf-skewed over names the
    * program's venue normalisation leaves as they are. */
  val serveVenues: Vector[String] = Vector("Amnesia", "Pacha", "DC10",
    "Privilege", "Eden", "Es Paradis", "Secret Garden", "Bora Bora Beach",
    "Cova Santa", "Blue Marlin", "Las Dalias", "Sant Rafel Arena")

  def serveEvents(seed: Long, docs: IndexedSeq[Doc], n: Int): Vector[Rec] = {
    val r = new SplittableRandom(seed ^ 0x5E57EL)
    val venue = new Zipf(serveVenues.length, 1.0, r.split())
    Vector.tabulate(n) { i =>
      val d = now.plusDays(-150L + r.nextInt(1000))
      fresh(r, docs, i.toLong, Some(d), fmt(r, d),
        serveVenues(venue.next()), "2025-06-09T12:00:00Z")
    }
  }

  /** One `serve` query: the EventQueries call and its parameters. */
  final case class Query(kind: String, minQuality: Double = 0.0,
      skip: Int = 0, key: Long = -1, term: String = "",
      venue: String = "", days: Int = 0, month: LocalDate = null)

  /** Queries of each kind in one deck of 20. */
  val serveMix: Vector[(String, Int)] = Vector("events" -> 3, "by_id" -> 5,
    "search" -> 2, "venues" -> 1, "venue_events" -> 3,
    "quality_stats" -> 1, "top_venues" -> 1, "upcoming" -> 2,
    "date_distribution" -> 1, "month_comparison" -> 1)
  val serveDeck: Int = serveMix.map(_._2).sum

  /** The seeded query stream, dealt in decks: each deck holds
    * [[serveMix]] in a seeded order, so that any whole decks have the
    * same mix of kinds; venue, term and id parameters are Zipf-skewed
    * over a seed-shuffled order. */
  final class Queries(seed: Long, events: Vector[Rec]) {
    private val r = new SplittableRandom(seed ^ 0x0E21E5L)
    private val vocab = events.iterator.take(5000)
      .flatMap(_.title.split(" ")).filter(_.forall(_.isLetter))
      .map(_.toLowerCase).toVector.distinct.sorted
    private def shuffled[A](xs: Vector[A]) = {
      val a = xs.toArray[Any]
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toVector.asInstanceOf[Vector[A]]
    }
    private val ids = shuffled(events.map(_.key))
    private val terms = shuffled(vocab)
    private val venues = shuffled(serveVenues)
    private val idZ = new Zipf(ids.length, 1.0, r.split())
    private val termZ = new Zipf(terms.length, 1.0, r.split())
    private val venueZ = new Zipf(venues.length, 1.0, r.split())

    def deck(): Vector[Query] =
      shuffled(serveMix.flatMap { case (kind, n) => Vector.fill(n)(kind) }).map(query)

    private def query(kind: String): Query =
      kind match {
        case "events" => Query(kind, minQuality = Vector(0.5, 0.6, 0.7)(r.nextInt(3)),
          skip = 50 * r.nextInt(4))
        case "by_id" => Query(kind, key = ids(idZ.next()))
        case "search" => Query(kind, term = terms(termZ.next()))
        case "venue_events" => Query(kind, venue = venues(venueZ.next()))
        case "upcoming" => Query(kind, days = Vector(7, 30, 90)(r.nextInt(3)))
        case "month_comparison" => Query(kind,
          month = now.withDayOfMonth(1).plusMonths(-5L + r.nextInt(30)))
        case _ => Query(kind)
      }
  }

  /** `ann` vectors: every fixture vector perturbed `copies` times. */
  def annCorpus(seed: Long, base: IndexedSeq[Array[Float]],
      copies: Int): Vector[Array[Float]] = {
    val r = new SplittableRandom(seed ^ 0xA77L)
    Vector.tabulate(base.length * copies)(i => perturb(r, base(i % base.length), 0.5))
  }

  def perturb(r: SplittableRandom, v: Array[Float], rel: Double): Array[Float] = {
    val rms = math.sqrt(v.map(x => x.toDouble * x).sum / v.length)
    v.map(x => (x + gauss(r) * rel * rms).toFloat)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Zipf(s) ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double, r: SplittableRandom) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t)
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
