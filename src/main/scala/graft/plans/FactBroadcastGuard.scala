package graft.plans

import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, JoinHint, LogicalPlan, NO_BROADCAST_HASH}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Demote equi-join sides that scan big tables from broadcast to
  * shuffle.
  *
  * The pathology (SF1 audit of TPC-H Q4/Q5/Q21, BENCH_SF1.json): a join
  * side that projects 2–4 columns of a fact table gets a size estimate —
  * compressed file bytes scaled by the pruned-column ratio — far under
  * the broadcast threshold, while the in-memory hashed relation it
  * actually builds is row-count-bound (6M lineitem rows ≈ hundreds of
  * MB of hash table, built single-threaded). The decorrelated
  * EXISTS/NOT-EXISTS subqueries of Q4/Q21 and the orderkey join of Q5
  * all hit it. AQE cannot undo the mistake at runtime: it only promotes
  * shuffle joins to broadcast, never demotes a planned
  * BroadcastExchange. Measured at SF1 (local[32]): Q4 3.33 s → 0.61 s,
  * Q21 3.75 s → 1.29 s, Q5 3.01 s → shuffle plan, once the fact side
  * stops broadcasting.
  *
  * The guard judges broadcastability by the UNPRUNED file bytes of a
  * side's leaf scans: column pruning shrinks the broadcast payload but
  * not the row count that dominates hash-relation build cost. The error
  * asymmetry motivates the conservative signal — wrongly demoting a
  * small build side costs one extra shuffle of a small table; wrongly
  * broadcasting a fact table is super-linear at scale (and an OOM at
  * 100 TB). Dimension tables keep broadcasting: their total file size
  * sits under the threshold, so the signal never fires for them.
  * Non-equi joins are left alone — refusing broadcast there would force
  * a CartesianProduct, which is always worse.
  *
  * Shape: a planner STRATEGY, not a logical optimizer rule —
  * `injectOptimizerRule` rules run in the operator-optimization batch,
  * which is BEFORE RewritePredicateSubquery turns EXISTS/NOT EXISTS into
  * semi/anti joins, so a logical rule never sees the joins it must fix.
  * The strategy fires first in physical planning (extension strategies
  * precede the built-ins), stamps NO_BROADCAST_HASH on oversized sides,
  * and hands the join straight back via planLater — JoinSelection then
  * plans it honoring the hints. Idempotent (a side already carrying a
  * strategy hint is left alone), no-op when broadcast is disabled.
  * Injected by [[graft.GraftExtensions]].
  */
object FactBroadcastGuard extends SparkStrategy {

  /** Conservative per-entry cost of a HashedRelation (UnsafeRow + map
    * entry overhead): what a row REALLY costs to broadcast-build,
    * regardless of how well it compressed in files or shuffle blocks.
    */
  private val HashEntryBytes = 48L

  /** Estimated broadcast-build cost of a plan, designed to resist the
    * two underestimates that cause fact-table broadcasts:
    *  - leaf file scans count UNPRUNED file bytes (column pruning
    *    shrinks the payload but not the row count that dominates hash
    *    build cost);
    *  - leaves with a known row count (AQE re-planning sees completed
    *    shuffle stages; cached relations know their size) cost at least
    *    rowCount * [[HashEntryBytes]] — compressed shuffle bytes of a
    *    6M-row projection can sit under the threshold while the hash
    *    relation it would build is hundreds of MB. Without this term
    *    AQE re-promotes the join this guard just demoted.
    */
  private def broadcastCostBytes(p: LogicalPlan): BigInt =
    p.collectLeaves().map {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            val bytes = BigInt(fs.location.sizeInBytes)
            fs.location match {
              // zone-map tables know their TRUE row count — cost the
              // hash build row-bound, exactly like completed AQE stages
              // below. A well-CLUSTERED table compresses so much better
              // than its unsorted twin that file bytes flip under the
              // budget while rows are unchanged (measured, RQ6 sf10
              // q22: hilbert orders 184 MB = 15M rows ≈ 720 MB hash
              // build broadcast serially on the driver, 3.6x wall
              // regression; the 258 MB unsorted twin was demoted) —
              // sorting a table must never make the planner treat it
              // as smaller than its row count.
              case g: graft.table.GraftFileIndex =>
                bytes.max(BigInt(g.totals.rowsTotal) * HashEntryBytes)
              case _ => bytes
            }
          case r => BigInt(r.sizeInBytes)
        }
      case lqs: LogicalQueryStage =>
        // a COMPLETED stage knows its row count — cost it honestly; an
        // incomplete one still carries the pruned-compressed estimate,
        // so fall through to the stage's own logical plan where the
        // original file scans are still visible
        lqs.stats.rowCount match {
          case Some(rc) => lqs.stats.sizeInBytes.max(rc * HashEntryBytes)
          case None => broadcastCostBytes(lqs.logicalPlan)
        }
      case other =>
        val s = other.stats
        val rowCost = s.rowCount.map(rc => rc * HashEntryBytes).getOrElse(BigInt(0))
        s.sizeInBytes.max(rowCost)
    }.sum

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j @ Join(left, right, _, _, hint)
        if SQLConf.get.autoBroadcastJoinThreshold >= 0 &&
          ExtractEquiJoinKeys.unapply(j).isDefined =>
      // Demote at the memory-derived budget, not the static estimate
      // threshold: a side whose honest cost lands BETWEEN the two stays
      // unstamped, plans as shuffle join (static threshold unchanged),
      // and AQE may still promote it once the TRUE size is measured —
      // the regime the q57 sf32 cliff needed. Sides over the budget are
      // stamped NO_BROADCAST_HASH so AQE can never promote them; without
      // the graft conf (untuned session) the bar stays the static
      // threshold, the original guard behavior.
      val threshold = BigInt(math.max(
        SQLConf.get.autoBroadcastJoinThreshold,
        SQLConf.get.getConfString("spark.graft.broadcastBudget",
          SQLConf.get.autoBroadcastJoinThreshold.toString).toLong))
      val demoteLeft = hint.leftHint.forall(_.strategy.isEmpty) &&
        broadcastCostBytes(left) > threshold
      val demoteRight = hint.rightHint.forall(_.strategy.isEmpty) &&
        broadcastCostBytes(right) > threshold
      if (!demoteLeft && !demoteRight) Nil
      else {
        def stamp(h: Option[HintInfo]): Option[HintInfo] =
          Some(h.getOrElse(HintInfo()).copy(strategy = Some(NO_BROADCAST_HASH)))
        val lh = if (demoteLeft) stamp(hint.leftHint) else hint.leftHint
        val rh = if (demoteRight) stamp(hint.rightHint) else hint.rightHint
        Seq(planLater(j.copy(hint = JoinHint(lh, rh))))
      }
    case _ => Nil
  }
}
