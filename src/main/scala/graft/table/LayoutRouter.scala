package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import graft.layout.{ZoneMap, ZonePredicate}

/** Per-query layout routing (round-19, VERDICT Next #4): when a table
  * exists in SEVERAL layout variants (the system's core experimental
  * artifact — the reference materializes one table per layout and
  * registers them side by side, tpch_all_runner.py:143-165), no single
  * variant wins every query: rq6_sf10_bb measured TPC-H Q16 reading
  * MORE files on hilbert than baseline (568 vs 448) and Q3 staying
  * <1×, while Q6 gains 1.63×. Routing sends EACH query to the variant
  * whose zone maps prune the most bytes for ITS predicates.
  *
  * Mechanics: the query text is planned once (Catalyst optimize —
  * milliseconds, no execution); translatable conjuncts become the same
  * [[graft.table.ZoneTranslator]] zone predicates the scan itself will
  * push; each variant's manifest is pruned driver-side
  * ([[ZoneMap.pruneRead]] — ~0 with the read cache, streaming above
  * the sidecar threshold) and the variant keeping the fewest bytes
  * wins. The estimate IS the quantity being optimized (bytes a
  * manifest-driven scan must read), so routing can only tie or beat a
  * fixed variant, up to row-group-level effects inside kept files.
  *
  * Scale: cost per query is one optimizer pass + V in-memory prunes —
  * independent of data size; at 10⁶-entry manifests the prune streams.
  */
object LayoutRouter {

  /** One variant's pruning estimate for a query. */
  case class Choice(dir: String, layout: String, filesKept: Int,
      filesTotal: Int, bytesKept: Long, bytesTotal: Long)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Zone predicates a query pushes onto columns of `schema`: every
    * optimized-plan Filter conjunct referencing ONLY this table's
    * columns, run through the scan's own translator. Statements that
    * fail to plan (e.g. a SELECT depending on a not-yet-created view
    * inside a script) contribute nothing — routing degrades to "no
    * predicates", which every variant ties on.
    */
  def zonePreds(spark: SparkSession, sql: String,
      schema: org.apache.spark.sql.types.StructType): Seq[ZonePredicate] = {
    val names = schema.fieldNames.toSet
    graft.runner.SqlScript.split(sql).flatMap { stmt =>
      val s = stmt.trim.toLowerCase(java.util.Locale.ROOT)
      if (!(s.startsWith("select") || s.startsWith("with"))) Nil
      else
        try {
          val plan = spark.sql(stmt).queryExecution.optimizedPlan
          plan.collect { case f: Filter => conjuncts(f.condition) }.flatten
            .filter(c => c.references.nonEmpty &&
              c.references.forall(a => names.contains(a.name)))
            .flatMap(c => ZoneTranslator.translate(c, schema))
        } catch { case scala.util.control.NonFatal(_) => Nil }
    }
  }

  /** Estimate every variant and pick by [[pick]]: fewest ABSOLUTE kept
    * bytes, file count deciding near-ties. Absolute bytes, not
    * fractions: the quantity a scan pays is bytes read, and the
    * variants genuinely differ on it even for a full scan — a curve
    * variant delta-encodes its sort columns into FEWER total bytes and
    * (byte-balanced since r18) packs them into fewer equal-size files,
    * which rq6 measured as faster full scans (TPC-H Q1 1.08× on
    * balanced hilbert, results/rq6_sf10_bb). A fraction metric would
    * tie every variant at 1.0 there and misroute to the fattest table.
    */
  def route(spark: SparkSession, variants: Seq[String], sql: String): Choice = {
    require(variants.nonEmpty, "no layout variants to route over")
    val schema = spark.read.parquet(variants.head).schema
    val preds = zonePreds(spark, sql, schema)
    pick(choices(variants, preds))
  }

  /** Byte-tolerance inside which the estimates are considered tied and
    * file COUNT decides: sorted variants land within a percent or two
    * of each other on a full scan (different columns win the delta
    * encoding), and at that margin the real cost difference is opens/
    * footers/sequential-IO — i.e. file count — not the byte delta.
    */
  private val ByteTieFraction = 0.02

  /** The routing rule over a set of per-variant estimates: fewest kept
    * bytes; estimates within [[ByteTieFraction]] of the minimum count
    * as tied and the fewest kept FILES wins among them (then bytes,
    * then variant order — stable, so baseline-first conventions hold on
    * exact ties).
    */
  def pick(cs: Seq[Choice]): Choice = {
    require(cs.nonEmpty, "no layout variants to route over")
    val minB = cs.map(_.bytesKept).min
    val cutoff = minB + math.max((minB * ByteTieFraction).toLong, 1L)
    cs.filter(_.bytesKept <= cutoff).minBy(c => (c.filesKept, c.bytesKept))
  }

  /** The per-variant estimates (exposed for artifacts/suites). */
  def choices(variants: Seq[String], preds: Seq[ZonePredicate]): Seq[Choice] =
    variants.map { dir =>
      val v = ZoneMap.pruneRead(dir, preds)
      Choice(dir, v.manifest.layout, v.kept.length, v.filesTotal,
        v.kept.flatMap(_.bytes).sum, v.bytesTotal)
    }
}
