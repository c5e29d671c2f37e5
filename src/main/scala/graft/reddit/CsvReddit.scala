package graft.reddit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** S5 tolerant CSV ingest + S3 CSV sink, reproducing the Redshift COPY
  * contract (s3_to_redshift.py:205-224) on Spark's CSV source:
  *
  *  - `multiLine=true` — 157/183 records in tmp/20250324.csv span physical
  *    lines (embedded newlines in quoted selftext/title);
  *  - `EMPTYASNULL`/`BLANKSASNULL` — empty or whitespace-only fields → NULL;
  *  - `TRUNCATECOLUMNS` — silently cut strings to the declared varchar widths;
  *  - `ACCEPTINVCHARS AS ' '` — undecodable bytes (read as U+FFFD) → space;
  *  - `MAXERROR n` — tolerate up to n unparseable records, then fail; a
  *    record is unparseable when its field count is wrong or a numeric
  *    field holds text that does not cast to its type;
  *  - `ACCEPTANYDATE`/`TIMEFORMAT 'auto'` — lenient timestamp cast, bad → NULL;
  *  - boolean quirk — "True"/"False" *strings* in the file (FIXTURES.md §1)
  *    parsed to BooleanType here, formatted back on write.
  *
  * Scale note: `multiLine=true` makes a CSV file non-splittable (one task per
  * file). That is inherent to the format, not the reader — the reference's
  * daily micro-batches (one file per run date) are the parallelism unit, and
  * everything downstream is parquet.
  */
object CsvReddit {

  final case class ErrorBudgetExceeded(bad: Long, budget: Long)
    extends RuntimeException(s"CSV load: $bad corrupt records > MAXERROR $budget")

  /** A tolerated load plus its error diagnostics — the
    * `sys_load_error_detail` surface (check_load_errors,
    * s3_to_redshift.py:312-331): how many records were rejected and a
    * bounded sample of their raw text for inspection.
    */
  final case class Load(data: DataFrame, badCount: Long, badSample: Seq[String])

  private def rawRead(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(RedditSchema.rawCsvSchema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Tolerant read of a reference-format posts CSV. */
  def read(spark: SparkSession, path: String, maxError: Long = 100L): DataFrame =
    readChecked(spark, path, maxError).data

  /** [[read]] plus MAXERROR diagnostics: count and a bounded sample of the
    * rejected records (`take` stops scanning once it has the sample — no
    * second full pass over a big load). A record rejected for a bad numeric
    * field has no `_corrupt_record` text; its sample entry is its fields
    * joined by commas.
    */
  def readChecked(spark: SparkSession, path: String, maxError: Long = 100L,
                  sampleRows: Int = 5): Load = {
    val raw = rawRead(spark, path)
      .cache() // one pass for the budget count, one for the parse

    val rejected = col("_corrupt_record").isNotNull || castRejected
    val bad = raw.filter(rejected).count()
    if (bad > maxError) throw ErrorBudgetExceeded(bad, maxError)
    val sample =
      if (bad == 0 || sampleRows == 0) Seq.empty
      else raw.filter(rejected)
        .select(coalesce(col("_corrupt_record"),
          concat_ws(",", RedditSchema.columns.map(col): _*)))
        .take(sampleRows).map(_.getString(0)).toSeq

    val good = raw.filter(!rejected).drop("_corrupt_record")
    Load(parse(good), bad, sample)
  }

  /** Numeric columns and their types. Under ANSI casts a non-numeric value
    * would abort the whole load, where COPY rejects just that record.
    */
  private val numericTypes =
    Seq("score" -> "int", "num_comments" -> "int", "upvote_ratio" -> "double",
      "selftext_length" -> "int")

  /** A numeric field holds text that does not cast (empty and blank
    * fields are NULL, not errors).
    */
  private def castRejected: Column = numericTypes.map { case (c, t) =>
    col(c).isNotNull && trim(col(c)) =!= "" && col(c).try_cast(t).isNull
  }.reduce(_ || _)

  /** The rejected raw records of a load — what the reference reads back from
    * `sys_load_error_detail` after a COPY (s3_to_redshift.py:312-331).
    */
  def badRecords(spark: SparkSession, path: String): DataFrame =
    rawRead(spark, path)
      .filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_record"))

  /** String-typed raw rows → typed schema with COPY null/truncation rules.
    * Numeric fields must cast (see [[readChecked]], which rejects the rows
    * that do not); timestamps that do not parse become NULL.
    */
  def parse(raw: DataFrame): DataFrame = {
    // EMPTYASNULL + BLANKSASNULL: whitespace-only → NULL (content otherwise
    // untouched — TRIMBLANKS trailing-blank removal would corrupt the
    // selftext_length parity and is not observable in any fixture)
    val nulled = RedditSchema.columns.foldLeft(raw)((d, c) =>
      d.withColumn(c, when(trim(col(c)) === "", lit(null)).otherwise(col(c))))
    // ACCEPTINVCHARS AS ' ': invalid UTF-8 arrives as U+FFFD from the reader
    val scrubbed = Relational.scrubInvalidChars(nulled, Seq("title", "selftext", "author", "url"))
    // TRUNCATECOLUMNS
    val truncated = Relational.truncateVarchar(scrubbed, RedditSchema.varcharWidths)

    def bool(c: String) =
      when(lower(col(c)) === "true", lit(true))
        .when(lower(col(c)) === "false", lit(false))
        .otherwise(lit(null).cast("boolean"))

    truncated.select(
      col("id"),
      col("title"),
      col("score").cast("int").as("score"),
      col("num_comments").cast("int").as("num_comments"),
      col("author"),
      // lenient cast = ACCEPTANYDATE/TIMEFORMAT auto: handles both
      // "yyyy-MM-dd HH:mm:ss" and ".SSSSSS", anything else → NULL
      col("created_utc").try_cast("timestamp").as("created_utc"),
      col("url"),
      col("upvote_ratio").cast("double").as("upvote_ratio"),
      bool("over_18").as("over_18"),
      bool("spoiler").as("spoiler"),
      bool("stickied").as("stickied"),
      col("selftext"),
      col("subreddit"),
      col("extraction_timestamp").try_cast("timestamp").as("extraction_timestamp"),
      col("selftext_length").cast("int").as("selftext_length"),
      bool("is_nsfw").as("is_nsfw"))
  }

  /** S3/S9 header probe: column names of a CSV without reading the body. */
  def headerProbe(spark: SparkSession, path: String): Seq[String] =
    spark.read.option("header", "true").option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .csv(path).columns.toSeq

  /** S10 raw-line inspection (first n physical lines, unparsed). */
  def rawLines(spark: SparkSession, path: String, n: Int): DataFrame =
    spark.read.text(path).limit(n)

  /** S3 CSV sink — writes the typed table back in the reference's file
    * format: header row, RFC-4180 quoting, booleans as literal
    * "True"/"False", µs-precision extraction timestamps.
    */
  def write(df: DataFrame, path: String): Unit = {
    val out = RedditSchema.booleanColumns.foldLeft(df)((d, c) =>
      d.withColumn(c,
        when(col(c) === true, "True").when(col(c) === false, "False")
          .otherwise(lit(null).cast("string"))))
      .withColumn("created_utc", date_format(col("created_utc"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("extraction_timestamp",
        date_format(col("extraction_timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    out.coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(path)
  }
}
