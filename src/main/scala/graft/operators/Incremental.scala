package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental view maintenance (IVM): keep a grouped count/sum summary
  * consistent under an upsert/delete delta WITHOUT rescanning the base
  * table — the algebra every warehouse's "incremental model" and Delta's
  * MERGE-maintained aggregates rely on. At 100 TB the summary recompute is
  * a full-corpus shuffle per batch; the incremental path touches only the
  * delta and the displaced base rows it addresses.
  */
object Incremental {

  /** Apply an upsert/delete delta to a `groupBy(group).agg(count, sum)`
    * summary algebraically: new contributions add, displaced contributions
    * subtract, groups whose count reaches zero disappear.
    *
    * `delta` carries `(key, group, measure, op)` with op `U` (upsert: insert
    * or replace by key) or `D` (delete by key). A `U` for an absent key is a
    * plain insert (there is nothing to displace); a `D` for an absent key is
    * a no-op; an upsert may MOVE a row between groups — the displaced old
    * row subtracts from its old group while the new row adds to the new one,
    * which is exactly the case a "just re-aggregate the delta" shortcut gets
    * wrong.
    *
    * Correctness contract: `summary` must be the exact summary of `base`,
    * and delta keys must be unique per batch (the same upsert-batch
    * precondition as [[Relational.upsert]]). The graded query proves the
    * algebra by comparing against a from-scratch recompute of the upserted
    * base.
    *
    * Scale shape: the base is touched ONLY by one inner join against the
    * delta's keys (micro-batch-sized → AQE broadcasts it; the base never
    * shuffles — at warehouse scale this is the key-index lookup). Signed
    * contributions then aggregate group-wise (map-side combined, delta-sized)
    * and merge into the summary with one outer join on the group key. The
    * full-recompute alternative shuffles the whole base every batch; this
    * shuffles O(|delta| + |groups touched|).
    *
    * Output schema: `(group, n_rows, sum_measure)` — same as the input
    * summary.
    */
  def maintainSummary(summary: DataFrame, base: DataFrame, delta: DataFrame,
                      key: String, group: String, measure: String,
                      opCol: String): DataFrame = {
    // displaced old contributions: base rows addressed by ANY delta key
    // (update-displaced or deleted) — the only base access, delta-key-bounded
    // internal names carry a prefix so a caller whose group column is
    // literally "g"/"dn"/"dm" can't alias-collide across the final join
    val displaced = base
      .join(delta.select(col(key)), Seq(key))
      .select(col(group).as("_ivm_g"), lit(-1L).as("_ivm_dn"),
        (-col(measure)).as("_ivm_dm"))
    // new contributions: the upsert rows themselves
    val added = delta.filter(col(opCol) =!= "D")
      .select(col(group).as("_ivm_g"), lit(1L).as("_ivm_dn"),
        col(measure).as("_ivm_dm"))
    val change = displaced.unionByName(added)
      .groupBy("_ivm_g")
      .agg(sum("_ivm_dn").as("_ivm_dn"), sum("_ivm_dm").as("_ivm_dm"))
    summary.join(change, summary(group) === change("_ivm_g"), "full_outer")
      .select(
        coalesce(summary(group), col("_ivm_g")).as(group),
        (coalesce(summary("n_rows"), lit(0L)) + coalesce(col("_ivm_dn"), lit(0L)))
          .as("n_rows"),
        (coalesce(summary("sum_measure"), lit(0L)) + coalesce(col("_ivm_dm"), lit(0L)))
          .as("sum_measure"))
      .filter(col("n_rows") > 0)
  }

  /** The summary shape [[maintainSummary]] maintains, for building the
    * initial state: `(group, n_rows, sum_measure)`.
    */
  def summarize(base: DataFrame, group: String, measure: String): DataFrame =
    base.groupBy(col(group).as(group))
      .agg(count(lit(1)).as("n_rows"), sum(col(measure)).as("sum_measure"))

  /** The materialized inner-join view [[maintainJoin]] maintains:
    * `base ⋈ dim` on `base.fkCol = dim.dimKeyCol` (both key columns kept,
    * so the maintained schema is self-describing).
    */
  def joinView(base: DataFrame, dim: DataFrame,
               fkCol: String, dimKeyCol: String): DataFrame =
    base.join(dim, base(fkCol) === dim(dimKeyCol))

  /** Maintain a materialized join view under a keyed upsert/delete delta
    * to the BASE side — the join completion of [[maintainSummary]]'s
    * aggregate algebra: Δ(A ⋈ B) for a keyed delta to A is "drop every
    * view row addressed by a delta key, add (upserts ⋈ B)". An upsert
    * that MOVES a row to a different fk lands in its new dim match; an
    * upsert whose fk has no dim row drops out of the inner view (and
    * a later dim backfill is a dim-side delta, out of scope here — this
    * maintains under base-side changes only).
    *
    * Correctness contract: `view` must be exactly
    * `joinView(base, dim, fkCol, dimKeyCol)` for the base this delta
    * applies to, delta keys unique per batch, and `delta` must carry the
    * base columns plus `opCol` (`U` upsert / `D` delete — same protocol
    * as [[maintainSummary]]).
    *
    * Scale shape: the VIEW is touched only by one anti-join against the
    * delta's keys (micro-batch-sized → broadcasts; the view never
    * shuffles — same class as [[Relational.upsert]]'s main side). The
    * DIM is probed only by the delta's upsert rows (broadcast delta →
    * dim never shuffles, and the session's runtime bloom filter prunes
    * the dim scan to the delta's fk set). The full-recompute alternative
    * re-joins the whole base every batch.
    */
  def maintainJoin(view: DataFrame, dim: DataFrame, delta: DataFrame,
                   key: String, fkCol: String, dimKeyCol: String,
                   opCol: String): DataFrame = {
    val kept = view.join(delta.select(col(key)), Seq(key), "left_anti")
    val added = joinView(delta.filter(col(opCol) =!= "D").drop(opCol),
      dim, fkCol, dimKeyCol)
    kept.unionByName(added)
  }

  /** [[maintainJoin]]'s other side: maintain the view under a keyed
    * upsert/delete delta to the DIM. Every view row whose dim key is
    * addressed by the delta drops (it joined the now-stale dim row); the
    * upserted dim rows re-join against the base rows that reference them
    * — which COVERS BACKFILL: a dim insert surfaces the base rows an
    * inner view had been dropping.
    *
    * Correctness contract mirrors [[maintainJoin]]: `view` exact for
    * (base, pre-delta dim), delta keys unique per batch, delta carries
    * the dim columns plus `opCol`.
    *
    * Scale shape: the view side is one broadcast anti-join on the delta's
    * dim keys (zero view shuffle). The base side is probed by a semi join
    * against the upserted keys' fk set — a SCAN of the base bounded by
    * the runtime bloom filter, not a shuffle; a deployment replaying
    * large dim churn should keep the base bucketed on the fk
    * ([[graft.sources.Bucketed]]) so the probe prunes to matching buckets.
    */
  def maintainJoinDim(view: DataFrame, base: DataFrame, dimDelta: DataFrame,
                      dimKeyCol: String, fkCol: String,
                      opCol: String): DataFrame = {
    val kept = view.join(dimDelta.select(col(dimKeyCol)),
      Seq(dimKeyCol), "left_anti")
    val newDim = dimDelta.filter(col(opCol) =!= "D").drop(opCol)
    val touchedBase = base.join(newDim.select(col(dimKeyCol).as(fkCol)),
      Seq(fkCol), "left_semi")
    kept.unionByName(joinView(touchedBase, newDim, fkCol, dimKeyCol))
  }
}
