package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.reddit.CsvReddit

class GenSpec extends AnyFunSuite {
  private def days(seed: Long, n: Int) = {
    val g = new Gen(seed, 2000, 0.1, 0.002)
    Vector.fill(n)(g.next())
  }

  test("the same seed gives the same bytes; another seed does not") {
    val a = days(7, 3)
    val b = days(7, 3)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x.csv, y.csv)) }
    assert(!java.util.Arrays.equals(a(1).csv, days(8, 3)(1).csv))
  }

  test("every quirk class is present") {
    val seen = days(7, 3).flatMap(_.quirks).groupMapReduce(_._1)(_._2)(_ + _)
    Gen.QuirkClasses.foreach(q => assert(seen.getOrElse(q, 0) > 0, s"quirk $q absent"))
  }

  test("re-scrapes reuse ids of the two previous days, once per day") {
    val ds = days(7, 4)
    ds.foreach(d => assert(d.valid.map(_(Gen.Id)).distinct.size == d.valid.size))
    val ids = ds.map(_.valid.map(_(Gen.Id)).toSet)
    assert((ids(3) & ids(2)).nonEmpty && (ids(3) & ids(1)).nonEmpty)
    // an id seen before comes from a record of one of the two previous days
    assert((ids(3) & ids(0)).subsetOf(ids(1) ++ ids(2)))
  }

  test("ids are 7-character base36 strings that grow") {
    val ids = days(7, 1).head.valid.map(_(Gen.Id)).sorted
    assert(ids.forall(_.matches("[0-9a-z]{7}")))
    assert(Gen.base36(java.lang.Long.parseLong("1jbijyg", 36)) == "1jbijyg")
  }

  test("the reader rejects exactly the injected malformed records") {
    val spark = graft.Sessions.local("perfbench-test", "2")
    val dir = Files.createDirectories(Paths.get("target", "test-data"))
    days(11, 2).foreach { d =>
      val path = dir.resolve(s"day-${d.index}.csv")
      Files.write(path, d.csv)
      val load = CsvReddit.readChecked(spark, path.toString)
      assert(d.malformed > 0)
      assert(load.badCount == d.malformed)
      assert(load.data.count() == d.valid.size)
    }
  }
}

class StatsSpec extends AnyFunSuite {
  test("tail: the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailIndex(100) == 89)
    assert(Stats.tailIndex(22) == 11)
    (22 to 300).foreach(n => assert(n - 1 - Stats.tailIndex(n) == 10))
    assert(Stats.tail((1 to 100).map(_.toDouble)) == 90.0)
  }

  test("tail: never below the median when samples are few") {
    (1 to 21).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      assert(Stats.tail(xs) >= Stats.median(xs))
      assert(n - 1 - Stats.tailIndex(n) <= 10)
    }
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("self time: a span minus the union of its children") {
    val parent = Span(1, "p", 0, "r", 0, 100)
    val kids = Seq(Span(2, "a", 1, "r", 10, 30), Span(3, "b", 1, "r", 20, 40),
      Span(4, "c", 1, "r", 90, 120))
    assert(Tracer.selfTime(parent, kids) == 100 - 30 - 10)
    assert(Tracer.selfTime(parent, Nil) == 100)
  }

  test("layer of a job: the call the outermost library frame made") {
    def site(frames: String*) = ("org.apache.spark.sql.Dataset.count(Dataset.scala:1)" +: frames)
      .mkString("\n")
    assert(Tracer.layerOf(site(
      "graft.reddit.CsvReddit$.readChecked(CsvReddit.scala:63)",
      "graft.reddit.Pipeline$.run(Pipeline.scala:28)",
      "perfbench.DailyIngest$.day(DailyIngest.scala:1)")) == "reddit.CsvReddit.readChecked")
    assert(Tracer.layerOf(site(
      "graft.reddit.PostsTable$.writtenKeyBounds(PostsTable.scala:1)",
      "graft.reddit.PostsTable$.$anonfun$upsert$1(PostsTable.scala:1)",
      "graft.reddit.PostsTable$.upsert(PostsTable.scala:1)",
      "graft.reddit.Pipeline$.run(Pipeline.scala:34)")) == "reddit.PostsTable.upsert")
    assert(Tracer.layerOf(site("graft.reddit.Pipeline$.run(Pipeline.scala:48)")) ==
      "reddit.Pipeline.run")
    assert(Tracer.layerOf(site("perfbench.Main$.main(Main.scala:1)")) == null)
  }
}

class MetricsSpec extends AnyFunSuite {
  private val all = Metrics.EndToEnd ++ Metrics.PerLayer

  test("metric names and units follow the naming rules, each name once") {
    all.foreach { case (n, u) =>
      assert(n.matches(Metrics.NameRule) && n.matches("[A-Za-z0-9].{0,63}"), n)
      assert(u.matches("[A-Za-z0-9_/%.-]{1,16}"), u)
    }
    assert(all.map(_._1).distinct.size == all.size)
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    implicit val formats: Formats = DefaultFormats
    val spec = parse(new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    def metrics(key: String) = (spec \ key).extract[List[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString)
    assert(metrics("end_to_end") == Metrics.EndToEnd)
    assert(metrics("per_layer") == Metrics.PerLayer)
    assert((spec \ "workloads").extract[List[Map[String, String]]].map(_("name")).toSet ==
      Main.Workloads.keySet)
  }

  test("the result line is one JSON object with the contract's keys") {
    val line = Metrics.json(correct = true, 3, 0, Seq(("setup_s", "s", 1.5), ("op_p50_ms", "ms", Double.NaN)))
    val j = parse(line)
    assert(j.asInstanceOf[JObject].obj.map(_._1) == List("correct", "attempted", "failed", "metrics"))
    assert((j \ "metrics" \ "setup_s" \ "value") == JDouble(1.5))
  }
}
