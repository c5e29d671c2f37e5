package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** dbt-style declarative data tests (schema.yml semantics —
  * dbt/reddit_dbt/models/example/schema.yml:10-22): `unique`, `not_null`,
  * `accepted_values`, generalized into a rule engine.
  *
  * ALL rules compile into one single-scan aggregation plan ([[compile]]);
  * `check` runs it and returns per-rule violation counts (0 = pass) plus a
  * bounded sample of offending rows, so a 100 TB validation is ONE scan,
  * not one per rule and never a collect.
  */
object DataQuality {

  sealed trait Rule { def name: String; def violations(df: DataFrame): DataFrame }

  /** dbt `unique`: key values appearing more than once. */
  case class Unique(column: String) extends Rule {
    val name = s"unique($column)"
    def violations(df: DataFrame): DataFrame =
      df.groupBy(col(column).as("id"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
  }

  /** dbt `not_null`. */
  case class NotNull(column: String) extends Rule {
    val name = s"not_null($column)"
    def violations(df: DataFrame): DataFrame = df.filter(col(column).isNull)
  }

  /** dbt `accepted_values`. */
  case class AcceptedValues(column: String, values: Seq[String]) extends Rule {
    val name = s"accepted_values($column)"
    def violations(df: DataFrame): DataFrame =
      df.filter(!col(column).isin(values.map(lit): _*) || col(column).isNull)
  }

  /** dbt_utils `accepted_range` (inclusive bounds). Nulls pass — compose
    * with [[NotNull]] when nulls should fail, mirroring dbt semantics.
    */
  case class InRange(column: String, lo: Double, hi: Double) extends Rule {
    val name = s"in_range($column)"
    def violations(df: DataFrame): DataFrame =
      df.filter(col(column) < lo || col(column) > hi)
  }

  /** Pattern conformance (dbt_utils `expression_is_true` with rlike);
    * nulls fail — a null can't match a required shape.
    */
  case class MatchesRegex(column: String, pattern: String) extends Rule {
    val name = s"matches_regex($column)"
    def violations(df: DataFrame): DataFrame =
      df.filter(col(column).isNull || !col(column).rlike(pattern))
  }

  case class Result(rule: String, violationCount: Long, sample: Seq[String])

  /** Compile ALL rules into one single-scan plan: row-level rules
    * (`not_null`, `accepted_values`) become conditional sums, and every
    * `unique` column becomes a grouping set of the same aggregation — the
    * relation is read once (Expand replicates rows per set inside the task;
    * map-side partial aggregation keeps the exchange at one row per live
    * group), instead of once per rule. Output: one row with one BIGINT
    * violation count per rule, columns `_r0.._rN` in rule order.
    */
  def compile(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "no rules to compile")
    val uniqueCols = rules.collect { case Unique(c) => c }.distinct
    val k = uniqueCols.size
    val rowSums = rules.zipWithIndex.collect {
      case (r: NotNull, i) =>
        sum(when(col(r.column).isNull, 1L).otherwise(0L)).as(s"_r$i")
      case (r: AcceptedValues, i) =>
        sum(when(!col(r.column).isin(r.values.map(lit): _*) || col(r.column).isNull,
          1L).otherwise(0L)).as(s"_r$i")
      case (r: InRange, i) =>
        sum(when(col(r.column) < r.lo || col(r.column) > r.hi, 1L).otherwise(0L))
          .as(s"_r$i")
      case (r: MatchesRegex, i) =>
        sum(when(col(r.column).isNull || !col(r.column).rlike(r.pattern), 1L)
          .otherwise(0L)).as(s"_r$i")
    }

    if (k == 0) df.agg(rowSums.head, rowSums.tail: _*)
    else {
      // grouping_id bit i (MSB-first) is 1 when uniqueCols(i) is NOT a
      // grouping column of the row's set — the global set is all-ones and
      // disambiguates NULL keys from rolled-up rows for free
      val globalGid = (1L << k) - 1
      def gidOf(c: String) = globalGid ^ (1L << (k - 1 - uniqueCols.indexOf(c)))
      val sets = uniqueCols.map(c => Seq(col(c))) :+ Seq.empty[Column]
      val inner = df.groupingSets(sets, uniqueCols.map(col): _*)
        .agg(count(lit(1)).as("_n"),
          rowSums :+ grouping_id().as("_gid"): _*)
      val outer = rules.zipWithIndex.map {
        case (Unique(c), i) =>
          sum(when(col("_gid") === gidOf(c) && col("_n") > 1, 1L).otherwise(0L))
            .as(s"_r$i")
        case (_, i) =>
          max(when(col("_gid") === globalGid, col(s"_r$i"))).as(s"_r$i")
      }
      inner.agg(outer.head, outer.tail: _*)
    }
  }

  /** Run all rules in ONE scan ([[compile]]); sample at most `sampleRows`
    * offending rows per violated rule — `take` stops reading partitions as
    * soon as it has n rows, so sampling never re-scans a 100 TB relation
    * (and is skipped entirely when the rule is clean or sampleRows == 0).
    */
  def check(df: DataFrame, rules: Seq[Rule], sampleRows: Int = 5): Seq[Result] = {
    if (rules.isEmpty) return Seq.empty
    val counts = compile(df, rules).collect().head
    rules.zipWithIndex.map { case (r, i) =>
      val n = counts.getAs[Long](s"_r$i")
      val sample =
        if (n == 0 || sampleRows == 0) Seq.empty
        else r.violations(df).take(sampleRows).map(_.toString).toSeq
      Result(r.name, n, sample)
    }
  }

  def passes(df: DataFrame, rules: Seq[Rule]): Boolean =
    check(df, rules, sampleRows = 0).forall(_.violationCount == 0)

  /** Write-path audit: materialize `df` to `path` while collecting the
    * named aggregate `measures` from THE SAME PASS via `Dataset.observe`
    * — the at-scale telemetry discipline: a 100 TB ingest cannot afford a
    * second scan just to learn what it wrote, and a separately-computed
    * profile can silently disagree with the committed data (retries,
    * source churn). Observed metrics are collected by an accumulator
    * riding the write job itself, so they describe EXACTLY the rows that
    * landed.
    *
    * `measures` must be observe-legal aggregates (count/sum/min/max and
    * conditional forms — nothing needing a shuffle, e.g. no distinct).
    * Returns the metrics as (metric, value-as-string) rows — stringly so
    * heterogeneous measure types fit one relation.
    */
  def writeAudited(df: DataFrame, path: String,
                   measures: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(measures.nonEmpty, "writeAudited: no measures")
    val spark = df.sparkSession
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation(s"graft_audit_${measures.hashCode}")
    val named = measures.map { case (n, c) => c.as(n) }
    df.observe(obs, named.head, named.tail: _*)
      .write.mode("overwrite").parquet(path)
    val got = obs.get
    measures.map { case (n, _) => (n, String.valueOf(got(n))) }
      .toDF("metric", "value")
  }

  /** Benford's-law first-digit audit — the classic fabricated-data /
    * broken-ingest detector for naturally-occurring magnitudes (prices,
    * populations, file sizes): real multiplicative data puts digit d
    * first with probability log10(1 + 1/d); uniform or hand-typed data
    * does not. Per digit 1–9: observed count, the 6dp-rounded expected
    * count n·log10(1+1/d), and the chi-square contribution folded from
    * the ROUNDED expectation (the cross-engine double discipline), plus
    * the total statistic and a verdict against the df=8 critical value
    * 20.09 (alpha = 0.01) on every row.
    *
    * Scale shape: one in-row digit extraction + one 9-bucket hash agg
    * with map-side partials — scan-bound; the audit relation is 9 rows
    * regardless of input size.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val digits = (1 to 9).map { d =>
      (d, math.log10(1.0 + 1.0 / d))
    }
    val obs = df
      .select(floor(col(valueCol)).cast("long").as("v"))
      .filter(col("v") >= 1L)
      .select(substring(col("v").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("observed"))
    val n = obs.agg(sum(col("observed")).as("n"))
    val perDigit = obs.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
      .join(obs, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("observed"), lit(0L)).as("observed"))
      .crossJoin(n)
      .join(broadcast(obs.sparkSession.createDataFrame(
        digits.map { case (d, p) => (d, p) }).toDF("digit", "p")), Seq("digit"))
      .withColumn("expected", round(col("n") * col("p"), 6))
      .withColumn("contrib", round(
        (col("observed") - col("expected")) * (col("observed") - col("expected"))
          / col("expected"), 6))
    // fold the 9-row statistic with an agg + crossJoin, not a global
    // window — same values, no single-partition WindowExec in the plan
    val chi2 = perDigit.agg(round(sum(col("contrib")), 6).as("chi2"))
    perDigit.crossJoin(chi2)
      .withColumn("suspicious", col("chi2") > 20.09)
      .select("digit", "observed", "n", "expected", "contrib", "chi2",
        "suspicious")
      .orderBy("digit")
  }
}
