package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate

import scala.collection.mutable

/** One generated daily extract.
  *
  * @param csv       the file's bytes, header included
  * @param valid     the well-formed records, as their 16 raw field values
  * @param malformed records with the wrong field count (COPY rejects them)
  * @param quirks    how many records carry each FIXTURES.md §1 quirk
  */
final case class Day(index: Int, date: LocalDate, csv: Array[Byte],
                     valid: Vector[Array[String]], malformed: Int,
                     quirks: Map[String, Int])

/** Seeded, single-threaded generator of daily Reddit-post CSV extracts in the
  * reference format (the 16 columns of FIXTURES.md §1).
  *
  * Ids are 7-character base36 strings that grow over time, like real post
  * ids. A `rescrapeShare` of each day re-scrapes posts first seen in the two
  * previous days with new scores, under today's extraction timestamp (the
  * overlap between consecutive reference extracts). A `malformedShare` of
  * each day is records with the wrong field count.
  *
  * The records carry every quirk the reader must handle: multi-line quoted
  * selftext with `""` escapes, empty and space-only fields, strings wider
  * than their varchar width, `True`/`False` booleans and both timestamp
  * precisions. Typed-cast errors (a non-numeric `score`) are deliberately
  * absent: under ANSI casts they abort the whole load instead of counting
  * against MAXERROR (see the notes next to this file).
  *
  * The same seed and parameters give the same bytes, day for day.
  */
final class Gen(seed: Long, postsPerDay: Int, rescrapeShare: Double,
                malformedShare: Double) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed)
  private var nextId = BaseId + (seed & 0xffff)
  private var produced = 0
  // valid records of the last two days, the pool re-scrapes draw from
  private var recent = List.empty[Vector[Array[String]]]

  /** Generate the next day: `posts` records (default: posts/day), of which
    * a `share` (default: the generator's re-scrape share) are re-scrapes.
    */
  def next(share: Double = rescrapeShare, posts: Int = postsPerDay): Day = {
    val d = produced
    produced += 1
    val date = StartDate.plusDays(d.toLong)
    val quirks = mutable.Map.empty[String, Int].withDefaultValue(0)
    def mark(q: String): Unit = quirks(q) += 1

    // latest record per id first: a post re-scraped yesterday is drawn
    // with yesterday's values, and never twice in one day
    val pool = recent.flatten.distinctBy(_(Id))
    val nRescrape = if (pool.isEmpty) 0 else math.min(pool.size, math.round(posts * share).toInt)
    val nBad = math.round(posts * malformedShare).toInt
    val nNew = posts - nRescrape - nBad
    val extraction = s"$date 14:${two(rnd.nextInt(60))}:${two(rnd.nextInt(60))}"

    val fresh = Vector.fill(nNew)(post(date, extraction))
    val rescraped = pick(pool, nRescrape).map { old =>
      mark("rescrape")
      val r = old.clone()
      r(Score) = rnd.nextInt(20000).toString
      r(Comments) = rnd.nextInt(3000).toString
      r(Extraction) = stamp(extraction)
      r
    }
    val bad = Vector.fill(nBad) {
      mark("wrong_field_count")
      val r = post(date, extraction)
      // one field short or one too many; both are COPY load errors
      if (rnd.nextBoolean()) r.patch(Url, Nil, 1) else r :+ "extra"
    }
    val valid = shuffle(fresh ++ rescraped)
    val records = shuffle(valid ++ bad)
    recent = (valid :: recent).take(2)

    val sb = new StringBuilder(posts * 400)
    sb.append(Columns.mkString(",")).append('\n')
    records.foreach { r => sb.append(r.map(quote).mkString(",")).append('\n') }
    valid.foreach(r => noteQuirks(r, mark))
    Day(d, date, sb.toString.getBytes(UTF_8), valid, nBad, quirks.toMap)
  }

  private def post(date: LocalDate, extraction: String): Array[String] = {
    val id = base36(nextId)
    nextId += 1 + rnd.nextInt(3)
    val sub = pickSubreddit()
    val selftext = rnd.nextInt(100) match {
      case n if n < 25 => ""
      case n if n < 27 => "   "
      case _ => Vector.fill(1 + rnd.nextInt(5))(sentence(4 + rnd.nextInt(12))).mkString("\n")
    }
    val over18 = if (rnd.nextInt(20) == 0) "True" else "False"
    val created = rnd.nextInt(100) match {
      case 0 => ""
      case n =>
        val secs = date.atTime(14, 0).minusSeconds(1L + rnd.nextInt(86400)).format(Seconds)
        if (n < 6) stamp(secs) else secs
    }
    Array(
      id,
      title(),
      (rnd.nextInt(100) match { case n if n < 90 => rnd.nextInt(500); case _ => rnd.nextInt(20000) }).toString,
      rnd.nextInt(400).toString,
      rnd.nextInt(200) match {
        case n if n < 6 => ""
        case n if n < 8 => "  "
        case 8 => "u_" + "x" * (100 + rnd.nextInt(40))
        case _ => "u_" + base36(rnd.nextLong(1L << 30))
      },
      created,
      if (rnd.nextInt(10) == 0) "" else s"https://www.reddit.com/r/$sub/comments/$id/",
      { val k = 50 + rnd.nextInt(51); if (k == 100) "1.00" else s"0.$k" },
      over18,
      if (rnd.nextInt(50) == 0) "" else if (rnd.nextInt(30) == 0) "True" else "False",
      if (rnd.nextInt(40) == 0) "True" else "False",
      selftext,
      sub,
      stamp(extraction),
      selftext.length.toString,
      over18)
  }

  private def title(): String = rnd.nextInt(1000) match {
    case n if n < 2 => "Wide: " + sentence(700).take(4000 + rnd.nextInt(200)).padTo(4100, 'w')
    case n if n < 100 => sentence(3 + rnd.nextInt(6)) + ", " + sentence(2 + rnd.nextInt(4))
    case n if n < 150 => sentence(2) + " \"" + sentence(2) + "\" " + sentence(2)
    case _ => sentence(3 + rnd.nextInt(9))
  }

  private def sentence(words: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      val w = rnd.nextInt(Words.length + 3)
      if (w < Words.length) sb.append(Words(w))
      else if (w == Words.length) sb.append("\"").append(Words(rnd.nextInt(Words.length))).append("\"")
      else sb.append(Unicode(rnd.nextInt(Unicode.length)))
      i += 1
    }
    sb.toString
  }

  // microsecond precision, like datetime.now() in the reference extract
  private def stamp(secs: String): String = {
    val us = rnd.nextInt(1000000).toString
    secs + "." + "0" * (6 - us.length) + us
  }

  private def pickSubreddit(): String = {
    val u = rnd.nextInt(Weights.sum)
    var acc = 0
    Subreddits.indices.find { i => acc += Weights(i); u < acc }.map(Subreddits(_)).get
  }

  private def pick(pool: List[Array[String]], n: Int): Vector[Array[String]] = {
    val arr = pool.toArray
    val k = math.min(n, arr.length)
    var i = 0
    while (i < k) { // partial Fisher-Yates: k distinct records
      val j = i + rnd.nextInt(arr.length - i)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i += 1
    }
    arr.take(k).toVector
  }

  private def shuffle[T](v: Vector[T]): Vector[T] = {
    val arr = v.toArray[Any]
    var i = arr.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    arr.toVector.asInstanceOf[Vector[T]]
  }
}

object Gen {
  val Columns: Vector[String] = Vector("id", "title", "score", "num_comments", "author",
    "created_utc", "url", "upvote_ratio", "over_18", "spoiler", "stickied", "selftext",
    "subreddit", "extraction_timestamp", "selftext_length", "is_nsfw")
  final val Id = 0
  final val Title = 1
  final val Score = 2
  final val Comments = 3
  final val Author = 4
  final val Created = 5
  final val Url = 6
  final val Upvote = 7
  final val Over18 = 8
  final val Spoiler = 9
  final val Stickied = 10
  final val Selftext = 11
  final val Subreddit = 12
  final val Extraction = 13
  final val SelftextLength = 14
  final val IsNsfw = 15

  /** The quirk classes every generated day is expected to contain. */
  val QuirkClasses: Seq[String] = Seq("multiline", "quote_escape", "empty_field",
    "blank_field", "wide_string", "bool_literal", "ts_seconds", "ts_micros",
    "wrong_field_count", "rescrape")

  val StartDate: LocalDate = LocalDate.of(2025, 3, 20)
  private val BaseId = java.lang.Long.parseLong("1jb0000", 36)
  private val Subreddits = Vector("stocks", "investing", "wallstreetbets", "stockmarket",
    "options", "dividends", "pennystocks", "securityanalysis")
  private val Weights = Vector(30, 20, 18, 10, 8, 6, 5, 3)
  private val Words = Vector("market", "earnings", "call", "put", "buy", "sell", "hold",
    "dividend", "yield", "rate", "fed", "index", "fund", "growth", "value", "risk",
    "portfolio", "short", "squeeze", "rally", "drop", "guidance", "revenue", "margin",
    "tech", "energy", "bank", "chart", "support", "resistance", "today", "week")
  private val Unicode = Vector("café", "über", "naïve", "—", "€", "日本", "résumé", "±")

  private val Seconds = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def two(n: Int): String = if (n < 10) s"0$n" else n.toString

  def base36(n: Long): String = {
    val s = java.lang.Long.toString(n, 36)
    if (s.length >= 7) s else "0" * (7 - s.length) + s
  }

  /** RFC-4180 field: quoted when it holds a delimiter, quote, newline or
    * only spaces; quotes doubled inside.
    */
  def quote(f: String): String =
    if (f.isEmpty) f
    else if (f.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r') || f.trim.isEmpty)
      "\"" + f.replace("\"", "\"\"") + "\""
    else f

  private def noteQuirks(r: Array[String], mark: String => Unit): Unit = {
    if (r(Selftext).contains('\n') || r(Title).contains('\n')) mark("multiline")
    if (r.exists(_.contains('"'))) mark("quote_escape")
    if (r.exists(_.isEmpty)) mark("empty_field")
    if (r.exists(f => f.nonEmpty && f.forall(_ == ' '))) mark("blank_field")
    if (r(Title).length > 4000 || r(Author).length > 100) mark("wide_string")
    if (r(Over18) == "True" || r(Spoiler) == "True" || r(Stickied) == "True") mark("bool_literal")
    if (r(Created).length == 19) mark("ts_seconds")
    if (r(Created).length == 26) mark("ts_micros")
  }
}
