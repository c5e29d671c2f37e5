package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Retrieval, Similarity}

/** One-shot scale probes for the two candidate-generation families whose
  * 100 TB arguments were previously design-level only: MinHash-LSH
  * near-dup and IVF ANN search. Each family runs the SAME bucket math at
  * 1x and 10x corpus volume (LSH: the q_lsh_scale corpus shape scaled;
  * IVF: a synthetic embedding corpus with centroids trained ONCE on the
  * 1x sample and reused, so only the data volume changes) and records
  * MEASURED wall seconds and rows shuffled (task-level shuffle write
  * records), then the empirical scaling exponent
  * log10(wall_10x / wall_1x). Sub-linear-to-linear exponents are the
  * evidence that the bucketed shapes hold at scale — an all-pairs
  * regression would read as exponent ~2. Results land in BASELINE.md
  * (the BpeScale discipline: measured, not extrapolated).
  */
object DedupAnnScale {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("dedup-ann-scale")
    val census = Harness.Census.attach(spark)
    // one timed call per probe: its shuffle records come from the census,
    // keyed by the call's job group, so late task-end events of one probe
    // cannot land in the next
    def measured(work: => Long): (Double, Long, Long) = {
      var out = 0L
      val r = Harness.timed(spark, "scale-probe", 0L, census) { out = work }
      require(r.ok, "DedupAnnScale: probe failed (see stderr)")
      (math.round(r.sec * 100) / 100.0, r.counts.shuffleRecords, out)
    }

    // ---- MinHash-LSH: the q_lsh_scale corpus shape at 1x and 10x -----------
    def lshCorpus(mult: Int): DataFrame = {
      val base = spark.range(50000L * mult).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 8).map(j =>
          concat(lit("tok"), col("id"), lit(s"x$j"))): _*).as("text"))
      base.union(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
    }
    def lshRun(mult: Int): (Double, Long, Long) = measured {
      Dedup.minhashLsh(lshCorpus(mult), "doc_id", "text",
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5).count()
    }
    lshRun(1) // JVM/codegen warmup outside the measured window
    val lsh1 = lshRun(1)
    val lsh10 = lshRun(10)

    // ---- IVF ANN: synthetic 32-dim corpus, centroids trained once ---------
    val dim = 32
    val cells = 64
    def ivfCorpus(mult: Int): DataFrame =
      spark.range(100000L * mult).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "j -> cast(((id * 31 + j * 7 + (id % 13) * j) % 97) - 48 as float))")
          .as("embedding"))
    val cents = Similarity.ivfCentroids(ivfCorpus(1), "vec_id", "embedding", cells = cells)
    def ivfRun(mult: Int): (Double, Long, Long) = measured {
      val corpus = ivfCorpus(mult)
      val indexed = Similarity.assignCells(corpus, "vec_id", "embedding", cents)
      Similarity.ivfSearch(indexed, corpus.filter(col("vec_id") < 100),
        cents, "vec_id", "embedding", nprobe = 4, k = 10).count()
    }
    ivfRun(1) // warmup
    val ivf1 = ivfRun(1)
    val ivf10 = ivfRun(10)

    // ---- BM25: bucketed postings index built at 1x and 10x, probed with
    // a FIXED query set naming one unique rare term each (constant
    // result volume), so the search exponents expose the structural
    // claim directly: the probe is a broadcast onto the bucketed scan —
    // its shuffle carries matched postings only, never the index --------
    def bmCorpus(mult: Int): DataFrame =
      spark.range(200000L * mult).select(col("id").as("doc_id"),
        concat_ws(" ",
          concat(lit("c"), pmod(col("id") * 7, lit(997))),
          concat(lit("c"), pmod(col("id") * 13, lit(997))),
          concat(lit("c"), pmod(col("id") * 29, lit(997))),
          concat(lit("c"), pmod(col("id") * 31, lit(997))),
          concat(lit("r"), col("id"))).as("text"))
    val bmQueries = spark.range(20).select(col("id").as("query_id"),
      concat(lit("r"), col("id") * 9973).as("qtext"))
    def bmBuild(mult: Int): (Double, Long, Long) = measured {
      Retrieval.writePostingsIndex(bmCorpus(mult), "doc_id", "text",
        s"bm25_scale_${mult}x", buckets = 64)
      200000L * mult
    }
    def bmRun(mult: Int): (Double, Long, Long) = measured {
      Retrieval.bm25Search(spark, s"bm25_scale_${mult}x", bmQueries,
        "query_id", "qtext", k = 10).count()
    }
    val bmBuild1 = bmBuild(1)
    bmRun(1) // warmup
    val bm1 = bmRun(1)
    val bmBuild10 = bmBuild(10)
    val bm10 = bmRun(10)
    spark.sql("DROP TABLE IF EXISTS bm25_scale_1x")
    spark.sql("DROP TABLE IF EXISTS bm25_scale_1x__stats")
    spark.sql("DROP TABLE IF EXISTS bm25_scale_10x")
    spark.sql("DROP TABLE IF EXISTS bm25_scale_10x__stats")

    def exp10(a: Double, b: Double): Double =
      math.round(math.log(b / a) / math.log(10.0) * 1000) / 1000.0
    def block(x1: (Double, Long, Long), x10: (Double, Long, Long)): String =
      s"""{"x1":{"wall_sec":${x1._1},"shuffle_records":${x1._2},"rows_out":${x1._3}},""" +
        s""""x10":{"wall_sec":${x10._1},"shuffle_records":${x10._2},"rows_out":${x10._3}},""" +
        s""""wall_exponent":${exp10(x1._1, x10._1)},""" +
        s""""shuffle_exponent":${exp10(math.max(1, x1._2).toDouble, math.max(1, x10._2).toDouble)}}"""
    println(s"""{"metric":"dedup_ann_scale","lsh":${block(lsh1, lsh10)},""" +
      s""""ivf":${block(ivf1, ivf10)},""" +
      s""""bm25_build":${block(bmBuild1, bmBuild10)},""" +
      s""""bm25_search":${block(bm1, bm10)}}""")
    spark.stop()
  }
}
