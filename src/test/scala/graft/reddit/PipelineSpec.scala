package graft.reddit

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** End-to-end golden test: the whole DAG on the reference's own fixtures,
  * including the U3 idempotence / last-write-wins guarantees the reference
  * documents (s3_to_redshift.py:9-15).
  */
class PipelineSpec extends SparkTestBase {

  private val fixA = "/root/reference/tmp/20250320.csv" // earlier batch
  private val fixB = "/root/reference/tmp/20250324.csv" // later batch, overlapping ids

  test("pipeline run: ingest → upsert → models, twice with overlap") {
    val root = Files.createTempDirectory("posts_table").toString

    val r1 = Pipeline.run(spark, fixA, root)
    assert(r1.tableRows == r1.loaded)

    val r2 = Pipeline.run(spark, fixB, root)
    val table = PostsTable.read(spark, root)
    // upsert invariant: id is unique
    assert(table.count() == table.select("id").distinct().count())
    assert(r2.tableRows >= r2.loaded)

    // last-write-wins: overlapping ids carry the later batch's score
    val later = CsvReddit.read(spark, fixB).select(col("id"), col("score").as("s2"))
    val joined = table.join(later, "id")
      .filter(col("score") =!= col("s2")).count()
    assert(joined == 0L)

    // golden values (pandas oracle over the same fixtures, upsert
    // semantics: fixA's 10 records minus the 2-id overlap, plus fixB's
    // 183 → 191 rows, all r/stocks)
    val sum = r2.summary.collect()
    assert(sum.length == 1)
    val row = sum.head
    assert(row.getAs[String]("subreddit") == "stocks")
    assert(row.getAs[Long]("post_count") == 191L)
    assert(math.abs(row.getAs[Double]("avg_score") - 586.17801) < 1e-4)
    assert(math.abs(row.getAs[Double]("avg_comments") - 111.623037) < 1e-4)
    assert(row.getAs[Int]("max_score") == 14587)
    assert(r2.summary.columns.toSeq ==
      Seq("subreddit", "post_count", "avg_score", "avg_comments", "max_score"))
  }

  test("upsert is idempotent: re-running the same batch changes nothing") {
    val root = Files.createTempDirectory("posts_table2").toString
    Pipeline.run(spark, fixB, root)
    val before = PostsTable.read(spark, root).orderBy("id").collect().toSeq
    Pipeline.run(spark, fixB, root)
    val after = PostsTable.read(spark, root).orderBy("id").collect().toSeq
    assert(before == after)
  }

  test("atomic versioning: CURRENT flips only after a full write; vacuum bounds versions") {
    val root = Files.createTempDirectory("posts_table3").toString
    Pipeline.run(spark, fixA, root)
    val v1 = PostsTable.currentVersion(root)
    Pipeline.run(spark, fixB, root)
    val v2 = PostsTable.currentVersion(root)
    assert(v2.get > v1.get)
    // no _tmp_ leftovers, old versions vacuumed to ≤2
    val names = new java.io.File(root).list().toSeq
    assert(!names.exists(_.startsWith("_tmp_")))
    assert(names.count(_.startsWith("v_")) <= 2)
  }

  test("concurrent-writer guard: a live claim loses loudly, table readable throughout") {
    import java.nio.file.{Files => F, Paths}
    import spark.implicits._
    val root = Files.createTempDirectory("posts_table_cas").toString
    PostsTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, key = "id")
    val before = PostsTable.read(spark, root).orderBy("id").collect().toSeq
    val nextV = PostsTable.currentVersion(root).get + 1
    // simulate writer A mid-commit: a claim held by a LIVE process (ours)
    val claim = Paths.get(root, s"_claim_v_$nextV")
    F.writeString(claim,
      s"${ProcessHandle.current().pid()}@${System.currentTimeMillis()}")
    val ex = intercept[IllegalStateException] {
      PostsTable.upsert(spark, root, Seq((2L, "B")).toDF("id", "v"), key = "id")
    }
    assert(ex.getMessage.contains("claimed by a live writer"), ex.getMessage)
    // the loser touched nothing: same version, same rows, still readable
    assert(PostsTable.currentVersion(root).contains(nextV - 1))
    assert(PostsTable.read(spark, root).orderBy("id").collect().toSeq == before)
    // writer A crashes (claim now names a dead pid): the next upsert heals
    // the stale claim and wins
    F.writeString(claim, s"999999999@${System.currentTimeMillis()}")
    PostsTable.upsert(spark, root, Seq((2L, "B")).toDF("id", "v"), key = "id")
    assert(PostsTable.currentVersion(root).contains(nextV))
    assert(PostsTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (2L, "B")))
    // successful commits release their claim — nothing accumulates
    assert(!new java.io.File(root).list().exists(_.startsWith("_claim_")))
  }

  test("concurrent-writer guard: two racing upserts — one wins or both serialize, never silent loss") {
    import spark.implicits._
    val root = Files.createTempDirectory("posts_table_race").toString
    PostsTable.create(Seq((1L, "a")).toDF("id", "v"), root, key = "id")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def racer(tag: String, rows: Seq[(Long, String)]): Thread = {
      val th = new Thread(() => {
        gate.await()
        try {
          PostsTable.upsert(spark, root, rows.toDF("id", "v"), key = "id")
          outcomes.add(s"$tag:ok")
        } catch {
          // claim loss (IllegalState) or the post-claim monotonicity check
          // (moveIntoVersion's require) — both are the LOUD failure modes
          case e @ (_: IllegalStateException | _: IllegalArgumentException)
              if e.getMessage.contains("claim") || e.getMessage.contains("committed") =>
            outcomes.add(s"$tag:loud")
        }
        (): Unit
      })
      th.start(); th
    }
    val a = racer("a", Seq((2L, "x")))
    val b = racer("b", Seq((3L, "y")))
    gate.countDown(); a.join(120000); b.join(120000)
    val got = {
      import scala.jdk.CollectionConverters._
      outcomes.iterator().asScala.toSet
    }
    assert(got.count(_.endsWith(":ok")) >= 1, s"no writer succeeded: $got")
    // whatever interleaving happened, the table is consistent: readable,
    // contains key 1, and every winner's write is present
    val live = PostsTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(live.contains((1L, "a")))
    if (got("a:ok")) assert(live.contains((2L, "x")), s"a won but lost data: $live")
    if (got("b:ok")) assert(live.contains((3L, "y")), s"b won but lost data: $live")
    assert(got.size == 2, s"a racer neither won nor failed loudly: $got")
  }

  test("stale-claim takeover is atomic: N racing healers admit exactly one") {
    import java.nio.file.{Files => F, Paths}
    // the TOCTOU this pins: a check-then-delete heal lets a slow healer
    // delete a fast healer's freshly created LIVE claim, silently admitting
    // two writers; the atomic move-aside must admit exactly one
    val root = Files.createTempDirectory("posts_table_heal_race").toString
    for (trial <- 0 until 20) {
      val v = 100L + trial
      F.writeString(Paths.get(root, s"_claim_v_$v"),
        s"999999999@${System.currentTimeMillis()}") // dead-pid stale claim
      val n = 8
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until n).map { _ =>
        val th = new Thread(() => {
          gate.await()
          try { PostsTable.claimVersion(root, v); wins.incrementAndGet() }
          catch { case _: IllegalStateException => () }
          (): Unit
        })
        th.start(); th
      }
      gate.countDown(); threads.foreach(_.join(30000))
      assert(wins.get() == 1, s"trial $trial: ${wins.get()} healers won the takeover")
      // the winner's claim survives (no loser deleted it) and names a live pid
      val body = F.readString(Paths.get(root, s"_claim_v_$v"))
      assert(body.takeWhile(_ != '@').toLong == ProcessHandle.current().pid())
      // no stale tombs accumulate
      assert(!new java.io.File(root).list().exists(_.contains("_stale_")))
      F.deleteIfExists(Paths.get(root, s"_claim_v_$v"))
      (): Unit
    }
  }

  test("partition-level upsert: unaffected date partitions hard-link, not copy") {
    import java.nio.file.{Files => F, Paths}
    val root = Files.createTempDirectory("posts_table5").toString
    Pipeline.run(spark, fixA, root) // v0: fixA's extract_date partition(s)
    val v1 = PostsTable.currentVersion(root).get

    // staged batch: ids disjoint from fixA (prefixed) on a brand-new date →
    // every existing partition's key range excludes them → all linked
    val staged = Enrich.stampExtraction(
      CsvReddit.read(spark, fixB).withColumn("id", concat(lit("zz"), col("id"))),
      java.sql.Timestamp.valueOf("2025-03-25 00:00:00"))
    PostsTable.upsert(spark, root, staged)
    val v2 = PostsTable.currentVersion(root).get
    assert(v2 == v1 + 1)

    val oldV = Paths.get(root, s"v_$v1")
    val newV = Paths.get(root, s"v_$v2")
    var checkedFiles = 0
    F.list(oldV).forEach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("extract_date=")) {
        val np = newV.resolve(name)
        assert(F.isDirectory(np), s"unaffected partition $name missing from v_$v2")
        F.list(p).forEach { f =>
          val fn = f.getFileName.toString
          if (!fn.startsWith("_")) {
            assert(F.isSameFile(f, np.resolve(fn)),
              s"$name/$fn was copied, not hard-linked")
            checkedFiles += 1
          }
        }
      }
    }
    assert(checkedFiles > 0, "no partition files compared")
    // and the new date landed alongside
    assert(F.isDirectory(newV.resolve("extract_date=2025-03-25")))
    assert(PostsTable.read(spark, root).count() ==
      CsvReddit.read(spark, fixA).count() + staged.count())
  }

  test("upsert: a staging batch over the key budget fails fast, before any write") {
    val root = Files.createTempDirectory("posts_table6").toString
    Pipeline.run(spark, fixA, root)
    val v1 = PostsTable.currentVersion(root).get
    val staged = Enrich.stampExtraction(
      CsvReddit.read(spark, fixB), // 183 distinct ids > budget of 10
      java.sql.Timestamp.valueOf("2025-03-26 00:00:00"))
    val e = intercept[IllegalArgumentException] {
      PostsTable.upsert(spark, root, staged, maxStagedKeys = 10)
    }
    assert(e.getMessage.contains("maxStagedKeys"))
    // nothing committed, no stray version dirs: the table is untouched
    assert(PostsTable.currentVersion(root).get == v1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, s"v_${v1 + 1}")))
  }

  test("runWithRetry: retries then surfaces the failure; succeeds when the run does") {
    val root = Files.createTempDirectory("posts_retry").toString
    val t0 = System.nanoTime()
    intercept[Exception] {
      Pipeline.runWithRetry(spark, "/nonexistent/nope.csv", root,
        retries = 1, retryDelayMs = 50L)
    }
    assert((System.nanoTime() - t0) / 1e6 >= 50.0, "no retry delay observed")
    val r = Pipeline.runWithRetry(spark, fixA, root, retries = 1, retryDelayMs = 0L)
    assert(r.loaded > 0)
  }

  test("retrying: a failing run is retried exactly `retries` times, then rethrown") {
    var calls = 0
    val ex = intercept[IllegalStateException] {
      Pipeline.retrying(retries = 2, delayMs = 0L) {
        calls += 1
        throw new IllegalStateException(s"attempt $calls")
      }
    }
    assert(calls == 3 && ex.getMessage == "attempt 3")
    calls = 0
    assert(Pipeline.retrying(retries = 2, delayMs = 0L) {
      calls += 1
      if (calls < 2) throw new IllegalStateException("flaky") else calls
    } == 2)
    // fatal errors and interrupts are not retried
    calls = 0
    intercept[InterruptedException] {
      Pipeline.retrying(retries = 2, delayMs = 0L) {
        calls += 1
        throw new InterruptedException("stop")
      }
    }
    assert(calls == 1)
  }

  test("acceptance queries (query-test.py) run on the registered views") {
    val root = Files.createTempDirectory("posts_table4").toString
    Pipeline.run(spark, fixB, root)
    val reddit = PostsTable.read(spark, root).drop("extract_date")
    Models.registerViews(spark, reddit)

    val top = Analytics.sqlTopPosts(spark, 2).collect()
    assert(top.length == 2)
    val dfTop = Analytics.topPosts(reddit, 2).collect()
    assert(top.map(_.getAs[String]("id")).toSeq == dfTop.map(_.getAs[String]("id")).toSeq)

    val stats = Analytics.sqlSubredditStats(spark).collect()
    assert(stats.nonEmpty) // 183 posts of r/stocks > HAVING 5
    val hours = Analytics.sqlScoreByHour(spark).collect()
    assert(hours.nonEmpty && hours.forall(r => r.getAs[Int]("hour_of_day") >= 0))

    // chart surface (query-test.py:72-79): A2 lands as one CSV artifact
    val chart = Files.createTempDirectory("chart").toString + "/a2"
    Analytics.exportChartCsv(Analytics.subredditStats(reddit), chart)
    val back = spark.read.option("header", "true").csv(chart)
    assert(back.count() == stats.length.toLong)
    assert(back.columns.toSeq ==
      Seq("subreddit", "post_count", "avg_score", "avg_comments"))

    // ...and as a rendered self-contained SVG (the matplotlib step's output)
    val svgPath = Files.createTempDirectory("chart_svg").toString + "/a2.svg"
    Analytics.exportChartSvg(Analytics.subredditStats(reddit),
      "subreddit", "avg_score", svgPath, title = "avg score by subreddit")
    val svg = new String(Files.readAllBytes(java.nio.file.Paths.get(svgPath)), "UTF-8")
    assert(svg.startsWith("<svg "))
    assert(svg.sliding(5).count(_ == "<rect") == stats.length + 1, // one bar per row + background
      s"expected ${stats.length} bars")
    assert(svg.contains("avg score by subreddit"))
  }

  test("time travel: a retained version reads back exactly; vacuum bounds history") {
    import spark.implicits._
    val root = Files.createTempDirectory("tt_spec").toString
    val v0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    PostsTable.create(v0, root, key = "id")
    PostsTable.upsert(spark, root, Seq((2L, "B"), (4L, "d")).toDF("id", "v"), key = "id")
    val vs = PostsTable.versions(root)
    assert(vs == Seq(0L, 1L))
    val old = PostsTable.readVersion(spark, root, 0L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old == Map(1L -> "a", 2L -> "b", 3L -> "c"),
      "v0 must be untouched by the v1 commit")
    val cur = PostsTable.read(spark, root).drop("extract_date")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    // a second upsert vacuums v0 (keep=2): time travel past the window fails loudly
    PostsTable.upsert(spark, root, Seq((5L, "e")).toDF("id", "v"), key = "id")
    assert(PostsTable.versions(root) == Seq(1L, 2L))
    val ex = intercept[IllegalArgumentException] {
      PostsTable.readVersion(spark, root, 0L)
    }
    assert(ex.getMessage.contains("not retained"))
  }
}
