package graft.reddit

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** S5 tolerant-ingest contract, proven on the reference's own fixture files
  * (read-only at /root/reference — real extracted data, heavy embedded
  * newlines).
  */
class CsvRedditSpec extends SparkTestBase {

  private val fix20250324 = "/root/reference/tmp/20250324.csv"
  private val fix20250318 = "/root/reference/tmp/20250318.csv"

  test("multiline fixture: 2,840 physical lines parse to 183 logical rows") {
    val df = CsvReddit.read(spark, fix20250324)
    assert(df.count() == 183L)
  }

  test("schema is the canonical 16 columns with parsed types") {
    val df = CsvReddit.read(spark, fix20250318)
    assert(df.columns.toSeq == RedditSchema.columns)
    val t = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(t("score") == "integer")
    assert(t("upvote_ratio") == "double")
    assert(t("created_utc") == "timestamp")
    assert(t("over_18") == "boolean")
  }

  test("EMPTYASNULL/BLANKSASNULL: empty author (deleted account) is NULL after parse") {
    val df = CsvReddit.read(spark, fix20250324)
    // exactly one deleted-account row in the fixture has an empty author
    // field → NULL at ingest (P2-style fills are downstream transforms,
    // not ingest defaults)
    assert(df.filter(col("author").isNull).count() == 1)
  }

  test("booleans parse from True/False strings; no stray values") {
    val df = CsvReddit.read(spark, fix20250324)
    val nBool = df.filter(col("over_18").isNotNull).count()
    assert(nBool == 183L) // every fixture row carries a parseable flag
  }

  test("timestamps parse at both precisions (seconds and microseconds)") {
    val df = CsvReddit.read(spark, fix20250324)
    assert(df.filter(col("created_utc").isNull).count() == 0)
    assert(df.filter(col("extraction_timestamp").isNull).count() == 0)
    // µs precision survives: extraction timestamps differ below the second
    val micros = df.select((unix_micros(col("extraction_timestamp")) % 1000000L).as("us"))
      .filter(col("us") =!= 0L).count()
    assert(micros > 0)
  }

  test("TRUNCATECOLUMNS: declared widths are enforced") {
    val df = CsvReddit.read(spark, fix20250324)
    val over = df.filter(length(col("title")) > 4000 || length(col("author")) > 100).count()
    assert(over == 0)
  }

  test("MAXERROR: a budget of 0 still accepts a clean file") {
    val df = CsvReddit.read(spark, fix20250318, maxError = 0)
    assert(df.count() > 0)
  }

  test("badRecords surfaces the rejected raw rows (sys_load_error_detail parity)") {
    // a deliberately corrupt fixture: one good row, one row with too many
    // fields (the classic COPY reject), one unclosed quote
    val dir = java.nio.file.Files.createTempDirectory("csvbad")
    val p = dir.resolve("bad.csv")
    val header = RedditSchema.columns.mkString(",")
    val good = Seq("okid1", "a title", "5", "2", "alice", "2025-03-20 10:00:00",
      "http://x", "0.9", "False", "False", "False", "body", "stocks",
      "2025-03-20 11:00:00.123456", "4", "False").mkString(",")
    val tooMany = (Seq("badid1") ++ Seq.fill(20)("x")).mkString(",")
    java.nio.file.Files.writeString(p, s"$header\n$good\n$tooMany\n")

    val load = CsvReddit.readChecked(spark, p.toString, maxError = 10)
    assert(load.data.count() == 1L)
    assert(load.badCount == 1L)
    assert(load.badSample.nonEmpty && load.badSample.head.contains("badid1"))

    val bad = CsvReddit.badRecords(spark, p.toString).collect().map(_.getString(0))
    assert(bad.length == 1 && bad.head.startsWith("badid1"))

    // the pipeline surfaces the diagnostics in its Result
    val root = java.nio.file.Files.createTempDirectory("posts_bad").toString
    val r = Pipeline.run(spark, p.toString, root)
    assert(r.badRecords == 1L && r.loaded == 1L)
    assert(r.badSample.head.contains("badid1"))
  }

  test("MAXERROR: a non-numeric numeric field rejects its row; a bad timestamp reads NULL") {
    val dir = java.nio.file.Files.createTempDirectory("csvcast")
    val p = dir.resolve("cast.csv")
    val header = RedditSchema.columns.mkString(",")
    def row(id: String, score: String = "5", ratio: String = "0.9",
            created: String = "2025-03-20 10:00:00", len: String = "4") =
      Seq(id, "a title", score, "2", "alice", created, "http://x", ratio,
        "False", "False", "False", "body", "stocks",
        "2025-03-20 11:00:00.123456", len, "False").mkString(",")
    java.nio.file.Files.writeString(p, Seq(header,
      row("good1"), row("good2", score = " ", len = ""),
      row("badscore", score = "lots"), row("badratio", ratio = "n/a"),
      row("badlen", len = "4.5"), row("badts", created = "yesterday"))
      .mkString("", "\n", "\n"))

    val load = CsvReddit.readChecked(spark, p.toString, maxError = 3)
    assert(load.badCount == 3L)
    val ids = load.data.select("id").collect().map(_.getString(0)).toSet
    assert(ids == Set("good1", "good2", "badts"))
    assert(load.badSample.size == 3 && load.badSample.exists(_.startsWith("badscore,")),
      load.badSample)
    val byId = load.data.collect().map(r => r.getAs[String]("id") -> r).toMap
    assert(byId("badts").isNullAt(byId("badts").fieldIndex("created_utc")))
    assert(byId("good2").isNullAt(byId("good2").fieldIndex("score")))
    assert(byId("good1").getAs[Int]("score") == 5)

    val ex = intercept[CsvReddit.ErrorBudgetExceeded] {
      CsvReddit.read(spark, p.toString, maxError = 2)
    }
    assert(ex.bad == 3L && ex.budget == 2L)
  }

  test("header probe reads column names without parsing the body") {
    assert(CsvReddit.headerProbe(spark, fix20250318) == RedditSchema.columns)
  }

  test("CSV round-trip: write then read preserves rows and key values") {
    val df = CsvReddit.read(spark, fix20250318)
    val out = java.nio.file.Files.createTempDirectory("csvrt").toString + "/out"
    CsvReddit.write(df, out)
    val back = CsvReddit.read(spark, out)
    assert(back.count() == df.count())
    val a = df.select("id", "score", "selftext_length").orderBy("id").collect().toSeq
    val b = back.select("id", "score", "selftext_length").orderBy("id").collect().toSeq
    assert(a == b)
  }
}
