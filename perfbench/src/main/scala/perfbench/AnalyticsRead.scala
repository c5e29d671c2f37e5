package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.quality.DataQuality
import graft.reddit.{Analytics, CsvReddit, Models, PostsTable, RedditSource}

/** The analyst's workload, in a closed loop with one client: a seeded mix of
  * read queries over a multi-day posts table that set-up built through
  * `PostsTable.create`/`upsert`. Each round runs every query type once, in a
  * seeded order, so every run has the same mix. Parquet scans, planning and
  * per-query fixed cost do the work; nothing is parsed or written.
  */
object AnalyticsRead {
  val BaseDays = 4
  val PostsPerDay = 5000
  val RescrapeShare = 0.1
  val MalformedShare = 0.001
  /** Set-up repetitions; each creates the table afresh from the base days. */
  val SetupReps = 3
  val WarmRounds = 2
  val SourceWindow = "day"

  /** Every query's expected result, computed once from the model. */
  private final class Expect(posts: Vector[Post], prev: Vector[Post], val nowUs: Long) {
    lazy val top: Seq[(String, Int)] = Model.top(posts, 2)
    lazy val stats: Seq[(String, Long, Double, Double)] = Model.subredditStats(posts)
    lazy val hours: Seq[(Option[Int], Double)] = Model.scoreByHour(posts)
    lazy val summary: Map[String, (Long, Double, Double, Int)] = Model.summary(posts)
    lazy val sourceTop: Seq[(String, Int)] =
      Model.sourceTop(posts, nowUs, RedditSource.windows(SourceWindow), 10)
    lazy val prevDigest: (Long, Long) = (prev.size.toLong, prev.map(_.score.toLong).sum)
  }

  def run(ctx: Ctx): Unit = {
    val gen = new Gen(ctx.seed, PostsPerDay, RescrapeShare, MalformedShare)
    // the base days share one CREATE, so they carry no re-scrapes (a batch
    // with an id twice is not an upsert); the upsert day does
    val base = Vector.fill(BaseDays)(gen.next(share = 0.0))
    val last = gen.next()
    base.foreach(d => ctx.writeFile(ctx.work.resolve(f"csv/base/day-${d.index}%04d.csv"), d.csv))
    val lastCsv = ctx.writeFile(ctx.work.resolve(f"csv/day-${last.index}%04d.csv"), last.csv)

    val model = new TableModel
    base.foreach(model.load)
    val prev = model.snapshot
    model.load(last)
    val expect = new Expect(model.snapshot, prev, Model.micros(s"${last.date} 14:00:00"))

    val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x5eedL)
    var root: Path = null
    (0 until SetupReps).foreach { rep =>
      root = ctx.work.resolve(s"table-$rep")
      val r = root
      ctx.setup {
        ctx.op("table.create", s"rep-$rep", measured = false) {
          PostsTable.create(CsvReddit.read(ctx.spark, ctx.work.resolve("csv/base").toString), r.toString)
        }
      }
    }
    // the upsert gives the table a previous version to travel back to
    ctx.op("table.upsert", s"day-${last.index}", measured = false) {
      PostsTable.upsert(ctx.spark, root.toString, CsvReddit.read(ctx.spark, lastCsv.toString))
    }
    // unmeasured rounds: query latency keeps falling for several rounds
    // while the JIT warms up, and a run measured on that slope is unsteady
    (0 until WarmRounds).foreach(i => Ops.foreach(op => query(ctx, op, root, expect, s"warm-up-$i", measured = false)))
    ctx.inputBytes = (base :+ last).map(_.csv.length.toLong).sum
    ctx.storedBytes = TableFiles.live(root).values.map(_.bytes).sum

    // whole rounds only, so every run measures the same mix of query types
    var round = 0
    while (ctx.measuring) {
      shuffled(rnd).foreach(op => query(ctx, op, root, expect, s"round-$round", measured = true))
      round += 1
    }
    if (ctx.tracer.isDefined) {
      val live = TableFiles.live(root)
      ctx.note("table.bytes_live", live.values.map(_.bytes).sum.toDouble)
      ctx.note("table.files_live", live.values.map(_.inodes.size).sum)
    }
  }

  val Ops: Vector[String] = Metrics.QueryOps.toVector

  private def shuffled(rnd: java.util.SplittableRandom): Vector[String] = {
    val a = Ops.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  private def query(ctx: Ctx, op: String, root: Path, e: Expect, req: String,
                    measured: Boolean): Unit = {
    val spark = ctx.spark
    def reddit: DataFrame = PostsTable.read(spark, root.toString).drop("extract_date")
    def sql(q: => DataFrame): DataFrame = { Models.registerViews(spark, reddit); q }
    def digest(df: DataFrame): DataFrame = df.agg(count(lit(1)), sum(col("score")))
    val out = ctx.op(op, req, measured) {
      op match {
        case "dq.check" =>
          DataQuality.check(reddit, Seq(DataQuality.Unique("id"), DataQuality.NotNull("id")))
        case _ => ctx.collect(req)(op match {
          case "analytics.top_posts" => Analytics.topPosts(reddit)
          case "analytics.subreddit_stats" => Analytics.subredditStats(reddit)
          case "analytics.score_by_hour" => Analytics.scoreByHour(reddit)
          case "analytics.sql_top_posts" => sql(Analytics.sqlTopPosts(spark))
          case "analytics.sql_subreddit_stats" => sql(Analytics.sqlSubredditStats(spark))
          case "analytics.sql_score_by_hour" => sql(Analytics.sqlScoreByHour(spark))
          case "models.summary" => Models.redditSummary(Models.stgReddit(reddit))
          case "source.top" =>
            RedditSource.top(reddit, SourceWindow, 10, new Timestamp(e.nowUs / 1000))
          case "table.time_travel" =>
            digest(PostsTable.readVersion(spark, root.toString, PostsTable.versions(root.toString).head))
        })
      }
    }
    out.foreach { res =>
      ctx.verify(s"$op $req", (op, res) match {
        case ("dq.check", rs: Seq[_]) =>
          rs.collect { case r: DataQuality.Result if r.violationCount != 0 => s"${r.rule}: ${r.violationCount}" }
        case (_, rows: Array[Row] @unchecked) => op match {
          case "analytics.top_posts" | "analytics.sql_top_posts" => Checks.top(rows, e.top)
          case "analytics.subreddit_stats" | "analytics.sql_subreddit_stats" =>
            Checks.subredditStats(rows, e.stats)
          case "analytics.score_by_hour" | "analytics.sql_score_by_hour" => Checks.scoreByHour(rows, e.hours)
          case "models.summary" => Checks.summary(rows, e.summary)
          case "source.top" => Checks.top(rows, e.sourceTop)
          case "table.time_travel" =>
            val want = e.prevDigest
            val got = (rows.head.getLong(0), rows.head.getLong(1))
            if (got == want) Nil else Seq(s"(count, sum score) $got, want $want")
        }
        case (_, other) => Seq(s"unexpected result $other")
      })
    }
  }
}
