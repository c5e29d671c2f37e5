package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.reddit.{Analytics, Pipeline, PostsTable}

/** The reference DAG, one day at a time, in a closed loop with one client.
  * A day (one measured op) is `Pipeline.run` on that day's generated CSV,
  * then the mart (`summary`) and the three analytics queries collected.
  * CSV parsing and the versioned upsert do most of the work; no operator
  * code runs.
  */
object DailyIngest {
  val PostsPerDay = 2000
  val RescrapeShare = 0.1
  val MalformedShare = 0.001
  /** Set-up repetitions; each loads the first day into a fresh table. */
  val SetupReps = 3
  /** Small upsert days after set-up, unmeasured. A day's latency is mostly
    * per-job and per-query fixed cost, and it keeps falling for many days
    * while the JIT compiles that code; a small day warms it as well as a
    * full one.
    */
  val WarmDays = 3
  val WarmPosts = 200

  private val LayerNames = Map(
    "reddit.CsvReddit.readChecked" -> "csv.read",
    "reddit.PostsTable.upsert" -> "upsert")

  def run(ctx: Ctx): Unit = {
    val gen = new Gen(ctx.seed, PostsPerDay, RescrapeShare, MalformedShare)
    val first = gen.next()
    csvOf(ctx, first)
    var root: Path = null
    var model: TableModel = null
    (0 until SetupReps).foreach { rep =>
      root = ctx.work.resolve(s"table-$rep")
      model = new TableModel
      val (r, m) = (root, model)
      ctx.setup(day(ctx, first, r, m, measured = false))
    }
    var ingested = first.csv.length.toLong
    var ok = true
    (0 until WarmDays).foreach { _ =>
      val d = gen.next(posts = WarmPosts)
      csvOf(ctx, d)
      ok = ok && day(ctx, d, root, model, measured = false)
      ingested += d.csv.length
    }
    while (ok && ctx.measuring) {
      val d = gen.next()
      csvOf(ctx, d)
      ok = day(ctx, d, root, model, measured = true)
      ingested += d.csv.length
    }
    ctx.inputBytes = ingested
    ctx.storedBytes = TableFiles.live(root).values.map(_.bytes).sum
    ctx.op("table.final_check", "final", measured = false) {
      ctx.verify("final table", finalTable(ctx, root, model))
    }
  }

  private def csvPath(ctx: Ctx, d: Day): Path = ctx.work.resolve(f"csv/day-${d.index}%04d.csv")

  private def csvOf(ctx: Ctx, d: Day): Path = ctx.writeFile(csvPath(ctx, d), d.csv)

  /** One day; false when it threw (the table's state is then unknown). */
  private def day(ctx: Ctx, d: Day, root: Path, model: TableModel, measured: Boolean): Boolean = {
    val spark = ctx.spark
    val req = s"day-${d.index}"
    val traced = ctx.tracer.isDefined && measured
    // partitions holding the day's ids before it lands, for prune precision
    val before = if (traced) TableFiles.live(root) else Map.empty[String, TableFiles.Part]
    val heldBy = if (!traced) Set.empty[String]
      else d.valid.flatMap(r => model.posts.get(r(Gen.Id))).map(p => TableFiles.partition(p.day)).toSet
    val out = ctx.op("day", req, measured) {
      val r = ctx.span("pipeline.run", req)(Pipeline.run(spark, csvPath(ctx, d).toString, root.toString))
      val summary = ctx.span("models.refresh", req)(r.summary.collect())
      val reddit = spark.table("reddit")
      def query(name: String)(df: => DataFrame) = ctx.span(name, req)(ctx.collect(req)(df))
      (r, summary,
        query("analytics.top_posts")(Analytics.topPosts(reddit)),
        query("analytics.subreddit_stats")(Analytics.subredditStats(reddit)),
        query("analytics.score_by_hour")(Analytics.scoreByHour(reddit)))
    }
    model.load(d)
    out.foreach { case (r, summary, top, stats, hours) =>
      val posts = model.snapshot
      // one verdict per day: a day is one op however many of its checks fail
      ctx.verify(req, Seq(
        (r.loaded, d.valid.size.toLong, "loaded"),
        (r.badRecords, d.malformed.toLong, "rejected"),
        (r.tableRows, posts.size.toLong, "table rows")).collect {
        case (got, want, what) if got != want => s"$what $got, want $want"
      } ++
        Checks.summary(summary, Model.summary(posts)).map("summary " + _) ++
        Checks.top(top, Model.top(posts, 2)).map("top_posts " + _) ++
        Checks.subredditStats(stats, Model.subredditStats(posts)).map("subreddit_stats " + _) ++
        Checks.scoreByHour(hours, Model.scoreByHour(posts)).map("score_by_hour " + _))
    }
    if (traced && out.isDefined) layers(ctx, ctx.tracer.get, d, req, before, heldBy, root)
    out.isDefined
  }

  /** Per-layer numbers of one measured day (traced runs). */
  private def layers(ctx: Ctx, t: Tracer, d: Day, req: String,
                     before: Map[String, TableFiles.Part], heldBy: Set[String], root: Path): Unit = {
    t.drain()
    val run = t.all.filter(s => s.name == "pipeline.run" && s.request == req).last
    t.deriveLayers(run.id, req, LayerNames)
    val jobs = t.jobsUnder(run.id)
    def layer(span: String, key: String): Unit = {
      val js = jobs.filter(j => LayerNames.get(j.layer).contains(span))
      ctx.note(s"$key.tasks", js.map(_.tasks).sum)
      ctx.note(s"$key.task_s", js.map(_.runMs).sum / 1e3)
      if (key == "upsert") ctx.note("upsert.jobs", js.size)
      t.children(run.id).filter(_.name == span).foreach(s =>
        ctx.note(if (key == "upsert") "upsert.s" else s"$key.read_s", s.us / 1e6))
    }
    layer("csv.read", "csv")
    layer("upsert", "upsert")
    ctx.note("csv.rows_in", d.valid.size + d.malformed)
    ctx.note("csv.rows_rejected", d.malformed)
    ctx.note("csv.bytes_in", d.csv.length)
    ctx.note("pipeline.run_s", run.us / 1e6)
    ctx.note("pipeline.jobs", jobs.size)
    ctx.note("pipeline.self_s", t.selfUs(run.id) / 1e6)
    t.all.filter(s => s.name == "models.refresh" && s.request == req).foreach { s =>
      ctx.note("models.refresh_s", s.us / 1e6)
      ctx.note("models.jobs", t.jobsUnder(s.id).size)
    }

    val after = TableFiles.live(root)
    val diff = TableFiles.diff(before, after)
    val staged = after.filter { case (p, _) => !before.contains(p) }.values.map(_.bytes).sum
    ctx.note("upsert.partitions_rewritten", diff.rewritten.size)
    ctx.note("upsert.partitions_linked", diff.linked.size)
    ctx.note("upsert.prune_precision",
      if (diff.rewritten.isEmpty) 1.0 else diff.rewritten.count(heldBy).toDouble / diff.rewritten.size)
    ctx.note("upsert.bytes_written", diff.bytesWritten.toDouble)
    ctx.note("upsert.write_amp", if (staged == 0) 0.0 else diff.bytesWritten.toDouble / staged)
    ctx.note("table.bytes_live", after.values.map(_.bytes).sum.toDouble)
    ctx.note("table.files_live", after.values.map(_.inodes.size).sum)
  }

  /** The whole final table against the model, column by column. */
  private def finalTable(ctx: Ctx, root: Path, model: TableModel): Seq[String] = {
    val rows = PostsTable.read(ctx.spark, root.toString).selectExpr(
      "id", "score", "num_comments", "unix_micros(created_utc)", "upvote_ratio",
      "over_18", "spoiler", "stickied", "subreddit", "unix_micros(extraction_timestamp)",
      "selftext_length", "is_nsfw", Model.TextDigestSql, "cast(extract_date as string)").collect()
    Checks.table(rows, model.posts.toMap)
  }
}

/** Table files per partition of the live version, for telling rewritten
  * partitions from hard-linked ones by inode.
  */
object TableFiles {
  final case class Part(inodes: Map[Any, Long]) { def bytes: Long = inodes.values.sum }
  final case class Diff(rewritten: Set[String], linked: Set[String], bytesWritten: Long)

  def partition(day: Int): String = s"extract_date=${Gen.StartDate.plusDays(day.toLong)}"

  def live(root: Path): Map[String, Part] =
    if (!Files.exists(root.resolve("CURRENT"))) Map.empty
    else {
      val v = root.resolve(s"v_${PostsTable.currentVersion(root.toString).get}")
      list(v).filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("extract_date="))
        .map { p =>
          p.getFileName.toString -> Part(list(p).filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => Files.getAttribute(f, "unix:ino") -> Files.size(f)).toMap)
        }.toMap
    }

  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** Partitions of `before` that `after` holds with other files (rewritten)
    * or the same files (linked), and the bytes of files new in `after`.
    */
  def diff(before: Map[String, Part], after: Map[String, Part]): Diff = {
    val old = before.values.flatMap(_.inodes.keys).toSet
    val common = after.keySet.intersect(before.keySet)
    val (linked, rewritten) = common.partition(p => after(p).inodes.keySet == before(p).inodes.keySet)
    Diff(rewritten, linked,
      after.values.flatMap(_.inodes).collect { case (ino, b) if !old(ino) => b }.sum)
  }
}

/** Comparisons of collected results with the model; each returns mismatches. */
object Checks {
  private def d(r: Row, i: Int): Double = r.getAs[Number](i).doubleValue

  def top(rows: Array[Row], want: Seq[(String, Int)]): Seq[String] = {
    val got = rows.toSeq.map(r => (r.getAs[String]("id"), r.getAs[Int]("score")))
    if (got == want) Nil else Seq(s"got $got, want $want")
  }

  def summary(rows: Array[Row], want: Map[String, (Long, Double, Double, Int)]): Seq[String] = {
    val got = rows.map(r => r.getString(0) -> r).toMap
    (if (got.keySet == want.keySet) Nil else Seq(s"subreddits ${got.keySet}, want ${want.keySet}")) ++
      want.toSeq.flatMap { case (s, (n, avg, comments, max)) =>
        got.get(s).toSeq.flatMap { r =>
          if (r.getLong(1) == n && Model.close(d(r, 2), avg) && Model.close(d(r, 3), comments) &&
            r.getInt(4) == max) Nil
          else Seq(s"$s: $r, want ($n, $avg, $comments, $max)")
        }
      }
  }

  def subredditStats(rows: Array[Row], want: Seq[(String, Long, Double, Double)]): Seq[String] =
    if (rows.length != want.size) Seq(s"${rows.length} rows, want ${want.size}")
    else rows.toSeq.zip(want).collect {
      case (r, (s, n, avg, c)) if !(r.getString(0) == s && r.getLong(1) == n &&
        Model.close(d(r, 2), avg) && Model.close(d(r, 3), c)) => s"$r, want ($s, $n, $avg, $c)"
    }

  def scoreByHour(rows: Array[Row], want: Seq[(Option[Int], Double)]): Seq[String] =
    if (rows.length != want.size) Seq(s"${rows.length} rows, want ${want.size}")
    else rows.toSeq.zip(want).collect {
      case (r, (h, avg)) if !(Option(r.get(0)).map(_.asInstanceOf[Int]) == h && Model.close(d(r, 1), avg)) =>
        s"$r, want ($h, $avg)"
    }

  /** Rows of the final-table projection in DailyIngest.finalTable. */
  def table(rows: Array[Row], want: Map[String, Post]): Seq[String] = {
    def opt[T](r: Row, i: Int): Option[T] = if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    val count = if (rows.length == want.size) Nil else Seq(s"${rows.length} rows, want ${want.size}")
    count ++ rows.toSeq.flatMap { r =>
      want.get(r.getString(0)) match {
        case None => Seq(s"unexpected id ${r.getString(0)}")
        case Some(p) =>
          val got = (r.getInt(1), r.getInt(2), opt[Long](r, 3), r.getDouble(4), opt[Boolean](r, 5),
            opt[Boolean](r, 6), opt[Boolean](r, 7), r.getString(8), r.getLong(9), r.getInt(10),
            opt[Boolean](r, 11), r.getLong(12), r.getString(13))
          val exp = (p.score, p.comments, p.created, p.upvote, p.over18, p.spoiler, p.stickied,
            p.subreddit, p.extraction, p.selftextLength, p.isNsfw, p.textDigest,
            TableFiles.partition(p.day).stripPrefix("extract_date="))
          if (got == exp) Nil else Seq(s"${p.id}: $got, want $exp")
      }
    }
  }
}
