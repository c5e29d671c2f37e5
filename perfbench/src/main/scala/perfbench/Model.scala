package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable

/** A post as the table must hold it, computed in plain Scala from the raw
  * record under the COPY rules the reader implements: empty or space-only
  * fields are NULL, strings are cut to their varchar widths, "True"/"False"
  * are booleans, and timestamps of either precision are UTC instants (µs).
  * Nullable fields are `null` / `None`.
  */
final case class Post(id: String, title: String, score: Int, comments: Int,
                      author: String, created: Option[Long], url: String,
                      upvote: Double, over18: Option[Boolean], spoiler: Option[Boolean],
                      stickied: Option[Boolean], selftext: String, subreddit: String,
                      extraction: Long, selftextLength: Int, isNsfw: Option[Boolean],
                      day: Int) {
  /** CRC-32 of the text columns, joined the way [[Model.TextDigestSql]] joins them. */
  def textDigest: Long = Model.crc(Seq(title, author, url, selftext))

  def hour: Option[Int] = created.map(us => Math.floorMod(Math.floorDiv(us, 3600000000L), 24L).toInt)
}

object Model {
  import Gen._

  private val Widths = Map(Id -> 100, Title -> 4000, Author -> 100, Url -> 2000,
    Selftext -> 65535, Subreddit -> 100)

  /** Spark SQL that computes [[Post.textDigest]] over the table's columns. */
  val TextDigestSql: String =
    "crc32(cast(concat_ws('\u0001', " +
      Seq("title", "author", "url", "selftext").map(c => s"coalesce($c, '\u0002')").mkString(", ") +
      ") as binary))"

  def crc(fields: Seq[String]): Long = {
    val c = new java.util.zip.CRC32
    c.update(fields.map(f => if (f == null) "\u0002" else f).mkString("\u0001").getBytes(UTF_8))
    c.getValue
  }

  def parse(r: Array[String], day: Int): Post = {
    def str(i: Int): String = {
      val f = r(i)
      if (f.forall(_ == ' ')) null else Widths.get(i).fold(f)(w => f.take(w))
    }
    def int(i: Int): Int = {
      val f = str(i)
      require(f != null, s"record ${r(Id)}: ${Columns(i)} is empty; the model has no NULL integers")
      f.toInt
    }
    def bool(i: Int): Option[Boolean] = Option(str(i)).map(_.toLowerCase).collect {
      case "true" => true
      case "false" => false
    }
    Post(str(Id), str(Title), int(Score), int(Comments), str(Author),
      Option(str(Created)).map(micros(_)), str(Url), str(Upvote).toDouble,
      bool(Over18), bool(Spoiler), bool(Stickied), str(Selftext), str(Subreddit),
      micros(str(Extraction)), int(SelftextLength), bool(IsNsfw), day)
  }

  def micros(ts: String): Long = {
    val t = LocalDateTime.parse(ts.replace(' ', 'T'))
    t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000
  }

  // --- expected query results ----------------------------------------------

  private val byRank: Ordering[Post] = Ordering.by((p: Post) => (-p.score, p.id))

  /** Analytics.topPosts / RedditSource.top order: score desc, id asc. */
  def top(posts: Iterable[Post], k: Int): Seq[(String, Int)] =
    posts.toSeq.sorted(byRank).take(k).map(p => (p.id, p.score))

  /** RedditSource.top: created_utc within [now - window, now]. */
  def sourceTop(posts: Iterable[Post], nowUs: Long, windowS: Long, k: Int): Seq[(String, Int)] =
    top(posts.filter(_.created.exists(c => c >= nowUs - windowS * 1000000L && c <= nowUs)), k)

  /** Per subreddit: (count, avg score, avg comments, max score). */
  def summary(posts: Iterable[Post]): Map[String, (Long, Double, Double, Int)] =
    posts.groupBy(_.subreddit).map { case (s, ps) =>
      val n = ps.size.toLong
      s -> ((n, ps.iterator.map(_.score.toLong).sum.toDouble / n,
        ps.iterator.map(_.comments.toLong).sum.toDouble / n, ps.iterator.map(_.score).max))
    }

  /** Analytics.subredditStats: count > minPosts, by avg score desc, subreddit. */
  def subredditStats(posts: Iterable[Post], minPosts: Long = 5): Seq[(String, Long, Double, Double)] =
    summary(posts).toSeq.collect { case (s, (n, a, c, _)) if n > minPosts => (s, n, a, c) }
      .sortBy(t => (-t._3, t._1))

  /** Analytics.scoreByHour: NULL hour first, then 0..23. */
  def scoreByHour(posts: Iterable[Post]): Seq[(Option[Int], Double)] =
    posts.groupBy(_.hour).toSeq
      .map { case (h, ps) => (h, ps.iterator.map(_.score.toLong).sum.toDouble / ps.size) }
      .sortBy(_._1.fold(-1)(identity))

  /** Doubles from a different summation order agree to this relative error. */
  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
}

/** The posts table as the generator says it must be: last write wins per
  * id, each post in the partition of its latest extraction day.
  */
final class TableModel {
  val posts: mutable.HashMap[String, Post] = mutable.HashMap.empty

  def load(day: Day): Unit = day.valid.foreach { r =>
    val p = Model.parse(r, day.index)
    posts(p.id) = p
  }

  def snapshot: Vector[Post] = posts.valuesIterator.toVector
}
