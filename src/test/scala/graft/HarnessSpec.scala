package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** The shared timed run: job groups reach the thread that submits the
  * jobs, timeouts cancel the call's own jobs, and the census counts per
  * call.
  */
class HarnessSpec extends SparkTestBase {

  private def withCensus[T](f: Harness.Census => T): T = {
    val census = Harness.Census.attach(spark)
    try f(census) finally census.detach()
  }

  test("consecutive timed calls each run and count under their own group") {
    withCensus { census =>
      val seen = new ConcurrentLinkedQueue[String]()
      def call(name: String) = Harness.timed(spark, name, 60L, census) {
        seen.add(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        spark.range(0, 100, 1, 2).selectExpr("sum(id)").collect()
      }
      val a = call("first")
      val b = call("second")
      val c = call("third")
      assert(Seq(a, b, c).forall(_.ok))
      assert(seen.asScala.toSeq == Seq(a.group, b.group, c.group))
      assert(a.group.startsWith("first") && b.group.startsWith("second") &&
        c.group.startsWith("third"))
      Seq(a, b, c).foreach { r =>
        assert(r.counts.jobs >= 1, r)
        assert(r.counts.tasks >= 2, r)
        assert(r.counts.stages >= 1, r)
      }
      // a call that runs no Spark job counts nothing, whatever ran before
      val idle = Harness.timed(spark, "idle", 60L, census)(())
      assert(idle.ok && idle.counts == Harness.Counts(0, 0, 0, 0L, 0L))
    }
  }

  test("a body that outlives its timeout has its jobs cancelled and is not ok") {
    withCensus { census =>
      @volatile var error: Throwable = null
      val t0 = System.nanoTime()
      val slow = Harness.timed(spark, "slow", 1L, census) {
        try spark.sparkContext.parallelize(1 to 2, 2)
          .foreach(_ => Thread.sleep(60000L))
        catch { case e: Throwable => error = e; throw e }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      assert(!slow.ok)
      assert(wall < 30.0, s"cancel did not stop the call: $wall s")
      assert(error != null && error.getMessage.contains("cancel"), error)
      assert(slow.counts.jobs == 1)
      // the session is usable at once, and the next call is not cancelled
      val next = Harness.timed(spark, "slow", 60L, census) {
        assert(spark.range(10).count() == 10L)
      }
      assert(next.ok && next.counts.jobs >= 1)
    }
  }

  test("a failing body is not ok; a fatal error reaches the caller") {
    withCensus { census =>
      assert(!Harness.timed(spark, "fails", 60L, census) {
        throw new IllegalStateException("boom")
      }.ok)
      intercept[StackOverflowError] {
        Harness.timed(spark, "fatal", 60L, census) {
          throw new StackOverflowError("fatal")
        }
      }
    }
  }

  test("jsonString escapes quote, backslash and every control character") {
    assert(Harness.jsonString("""a"b\c""") == "\"a\\\"b\\\\c\"")
    assert(Harness.jsonString("x\ny\rz\t") == "\"x\\ny\\rz\\t\"")
    (0 until 0x20).foreach { i =>
      val out = Harness.jsonString(i.toChar.toString)
      assert(!out.exists(_ < ' '), s"raw control char 0x${i.toHexString} in $out")
      assert(out.startsWith("\"\\") && out.endsWith("\""), out)
    }
    assert(Harness.jsonString("\u0001") == "\"\\u0001\"")
    assert(Harness.jsonString("plain ü") == "\"plain ü\"")
  }
}
