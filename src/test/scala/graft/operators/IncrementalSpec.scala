package graft.operators

import graft.SparkTestBase

class IncrementalSpec extends SparkTestBase {
  import spark.implicits._

  test("maintainSummary: equals recompute under group moves, deletes, inserts") {
    val base = Seq(
      (1L, "a", 100L), (2L, "a", 200L), (3L, "b", 300L),
      (4L, "b", 400L), (5L, "c", 500L))
      .toDF("k", "g", "m")
    val delta = Seq(
      (2L, "U", "b", 250L),  // update that MOVES a → b
      (3L, "D", "b", 0L),    // delete
      (5L, "D", "c", 0L),    // delete emptying group c entirely
      (6L, "U", "a", 600L),  // insert
      (9L, "D", "zz", 0L))   // delete for an absent key: no-op
      .toDF("k", "op", "g", "m")
    val summary = Incremental.summarize(base, "g", "m")
    val out = Incremental.maintainSummary(summary, base, delta, "k", "g", "m", "op")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // recompute ground truth: a={1,6}, b={4,2'}, c gone
    assert(out.toSeq == Seq(("a", 2L, 700L), ("b", 2L, 650L)))
  }

  test("maintainSummary: delta-only reaggregate would be wrong — the displaced row subtracts") {
    // single group move: naive "add the delta rows" leaves the old group's
    // count intact; the algebra must subtract the displaced contribution
    val base = Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("k", "g", "m")
    val delta = Seq((1L, "U", "y", 11L)).toDF("k", "op", "g", "m")
    val out = Incremental.maintainSummary(
        Incremental.summarize(base, "g", "m"), base, delta, "k", "g", "m", "op")
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("y", 2L, 31L)))  // x vanished, y gained the moved row
  }

  test("maintainSummary: base is only probed by delta keys (no base shuffle)") {
    val base = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)).toDF("k", "g", "m")
    val delta = Seq((3L, "U", "b", 33L)).toDF("k", "op", "g", "m")
    val plan = Incremental.maintainSummary(
      Incremental.summarize(base, "g", "m"), base, delta, "k", "g", "m", "op")
      .queryExecution.executedPlan.toString
    // the base-side probe join must be a broadcast of the (tiny) delta key
    // set — a sort-merge join there means the 100 TB base shuffles per batch
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected the delta-key probe to broadcast:\n$plan")
  }

  test("maintainJoin equals the from-scratch recompute across every delta case") {
    val base = Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 10L, 300L),
      (4L, 30L, 400L)).toDF("k", "fk", "m")
    val dim = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("dk", "seg")
    val view0 = Incremental.joinView(base, dim, "fk", "dk")
    val delta = Seq(
      (1L, "U", 20L, 101L),  // fk move a->b
      (2L, "D", 0L, 0L),     // delete
      (3L, "U", 99L, 301L),  // move to no dim match -> drops from inner view
      (5L, "U", 30L, 500L)   // fresh insert
    ).toDF("k", "op", "fk", "m")
    val maintained = Incremental.maintainJoin(view0, dim, delta,
        "k", "fk", "dk", "op")
      .select("k", "fk", "m", "dk", "seg")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(maintained == Set(
      (4L, 30L, 400L, 30L, "c"),
      (1L, 20L, 101L, 20L, "b"),
      (5L, 30L, 500L, 30L, "c")))
  }

  test("maintainJoin: the view never shuffles — delta keys broadcast into the anti-join") {
    val base = Seq((1L, 10L, 100L)).toDF("k", "fk", "m")
    val dim = Seq((10L, "a")).toDF("dk", "seg")
    val delta = Seq((1L, "U", 10L, 101L)).toDF("k", "op", "fk", "m")
    val plan = Incremental.maintainJoin(
        Incremental.joinView(base, dim, "fk", "dk"), dim, delta,
        "k", "fk", "dk", "op")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti") && plan.contains("BroadcastHashJoin"),
      s"expected a broadcast anti-join on the view side:\n$plan")
  }

  test("maintainJoinDim: update, delete, and BACKFILL all equal the recompute") {
    val base = Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L),
      (4L, 40L, 400L)).toDF("k", "fk", "m")
    // dim starts WITHOUT key 40 — base row 4 is invisible in the view
    val dim0 = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("dk", "seg")
    val view0 = Incremental.joinView(base, dim0, "fk", "dk")
    val delta = Seq(
      (10L, "U", "a2"),  // segment update
      (20L, "D", ""),    // delete -> base row 2 drops from the view
      (40L, "U", "d")    // backfill -> base row 4 surfaces
    ).toDF("dk", "op", "seg")
    val maintained = Incremental.maintainJoinDim(view0, base, delta,
        "dk", "fk", "op")
      .select("k", "fk", "m", "dk", "seg")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4))).toSet
    assert(maintained == Set(
      (3L, 300L, "c"),   // untouched
      (1L, 100L, "a2"),  // re-joined against the updated dim row
      (4L, 400L, "d")))  // backfilled
  }
}
