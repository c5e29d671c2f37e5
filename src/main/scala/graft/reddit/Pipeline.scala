package graft.reddit

import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The whole reference DAG (reddit_pipeline.py:20-44) collapsed into one
  * Spark program: extract(CSV fixture) → transform → upsert(table) →
  * dbt models → acceptance queries. Four process/network hops in the
  * reference become one logical plan per stage here.
  */
object Pipeline {

  final case class Result(
      loaded: Long,
      tableRows: Long,
      summary: DataFrame,
      badRecords: Long = 0L,
      badSample: Seq[String] = Seq.empty)

  /** One daily run: ingest `csvPath`, upsert into the posts table at
    * `tableRoot`, refresh models. `now` is the injectable extraction clock
    * (P6) — pass a fixed value for reproducible runs.
    */
  def run(spark: SparkSession, csvPath: String, tableRoot: String,
          now: Option[Timestamp] = None): Result = {
    // extract + transform (stage 1; CSV already carries derived columns —
    // Enrich only fills what's missing, mirroring the reference's guards)
    val load = CsvReddit.readChecked(spark, csvPath)
    val batch0 = load.data
    // lazy localCheckpoint: the daily batch is bounded (the upsert's
    // maxStagedKeys contract) and feeds 4+ downstream actions (key
    // collect, broadcast build, version write, loaded count) — without it
    // every action replans and re-executes the tolerant-CSV + enrich
    // chain; lazy rides the first action's job, adding zero jobs
    val batch = now.fold(batch0)(ts => Enrich.stampExtraction(batch0, ts))
      .localCheckpoint(eager = false)

    // load: delete-matching upsert, atomic swap (stages 2-3)
    PostsTable.upsert(spark, tableRoot, batch, key = "id")

    // dbt models (stage 4)
    val reddit = PostsTable.read(spark, tableRoot).drop("extract_date")
    Models.registerViews(spark, reddit)

    Result(
      loaded = batch.count(),
      tableRows = reddit.count(),
      summary = Models.redditSummary(Models.stgReddit(reddit)),
      badRecords = load.badCount,
      badSample = load.badSample)
  }

  /** The DAG's retry contract (reddit_pipeline.py:10-17: retries=1,
    * 15 s delay): re-run the whole day's run on failure. Safe because the
    * pipeline is idempotent end-to-end — the upsert is last-write-wins by
    * key and the version swap is atomic, so a retry after a partial failure
    * converges to the same table.
    */
  def runWithRetry(spark: SparkSession, csvPath: String, tableRoot: String,
                   now: Option[Timestamp] = None, retries: Int = 1,
                   retryDelayMs: Long = 15000L): Result =
    retrying(retries, retryDelayMs)(run(spark, csvPath, tableRoot, now))

  /** Run `body`, re-running it up to `retries` times after a non-fatal
    * failure, and rethrow the last failure. Fatal errors (OOM, linkage)
    * and interrupts are never retried.
    */
  private[reddit] def retrying[T](retries: Int, delayMs: Long)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case NonFatal(e) if attempt < retries =>
          attempt += 1
          System.err.println(s"[pipeline] attempt $attempt failed (${e.getMessage}); retrying")
          Thread.sleep(delayMs)
      }
    }
    sys.error("unreachable")
  }

  /** CLI: Pipeline <csvPath> <tableRoot>. */
  def main(args: Array[String]): Unit = {
    val Array(csvPath, tableRoot) = args.take(2)
    val spark = graft.Sessions.local("reddit-pipeline")
    val r = run(spark, csvPath, tableRoot)
    println(s"loaded=${r.loaded} tableRows=${r.tableRows}")
    r.summary.show(false)
    spark.stop()
  }
}
