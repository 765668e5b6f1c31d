package graft.sources

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, Expression, In => CatalystIn, InSet, IsNotNull => CatalystIsNotNull, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.{EqualTo => CEq, GreaterThan => CGt, GreaterThanOrEqual => CGe, LessThan => CLt, LessThanOrEqual => CLe}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Decode pruning for STREAMING seamf scans.
  *
  * Spark's `V2ScanRelationPushDown` runs only on batch `DataSourceV2Relation`s
  * — a streaming scan's `ScanBuilder` never sees `pruneColumns`/`pushFilters`,
  * so `readStream.format("seamf")` decodes full rows (XZ payload included)
  * even when the query only touches metadata columns. This rule closes that
  * gap from the optimizer's side of the fence, per micro-batch:
  *
  *   - '''Column pruning is decode pruning''' (same contract as the batch
  *     scan): when the columns required above the streaming relation exclude
  *     `trace`, the cloned scan never decompresses a payload — the
  *     reference's metadata fast path (seamf.py:1073-1103), now reached on
  *     the STREAMING path too.
  *   - '''Filter folding is decode-time pruning''': prunable conjuncts
  *     (`table` membership, `datetime_us`/`frequency` bounds) fold into the
  *     clone's [[graft.seamf.SeamfReader.TracePrune]] via the same
  *     [[SeamfSource.fold]] the batch builder uses. Every predicate STAYS in
  *     the residual `Filter` above the scan, so only the fold's superset
  *     property matters — exactness is irrelevant and the rewrite can never
  *     change results, only skip decode work.
  *
  * Soundness of the swap: the rule replaces both `scan` and `stream` of the
  * [[StreamingDataSourceV2ScanRelation]] with the pruned clone, because
  * `MicroBatchScanExec` plans partitions and builds the reader factory from
  * the STREAM, not the scan. A [[SeamfScan]] is stateless given offsets
  * (`planInputPartitions(start, end)` re-lists the landing directory;
  * the append-only offset contract makes that deterministic), while all
  * offset/admission state — `latestOffset` bookkeeping, the
  * `Trigger.AvailableNow` target — lives on the ORIGINAL scan object, which
  * `MicroBatchExecution` captured as the query's `SparkDataStream` at stream
  * start and keeps calling directly. Offsets already resolved into the
  * relation (`startOffset`/`endOffset`) ride through the copy untouched.
  *
  * The rewrite preserves the relation's attribute instances (the pruned
  * output is a SUBSET of the original `AttributeReference`s, original
  * exprIds), so parents stay resolved; it fires only when it strictly
  * narrows the schema or tightens the prune, so the fixed-point user-rule
  * batch converges in one extra pass. Aggregate pushdown is deliberately
  * NOT attempted here: a pushed partial aggregation under a streaming
  * stateful aggregation would interact with state-store row shapes — the
  * metadata-only decode is where the order-of-magnitude win lives (the
  * payload is ~8x the metadata bytes, plus the XZ inflate cost).
  *
  * Known trade: `StreamingQueryProgress.numInputRows` reports 0 for a
  * rewritten batch — ProgressReporter attributes rows by matching the
  * executed leaf's stream instance against the query's registered sources,
  * and the clone is not that instance. Row counts remain available on the
  * scan's SQL metrics (and the DSv2 custom decode metrics); the rewrite
  * never changes results. Accepting the blind spot is deliberate: the
  * alternative (keeping the original stream in the relation) would plan
  * reader factories from the UN-pruned scan and decode every payload.
  *
  * Registered via [[graft.plans.GraftExtensions]] (production sessions) and
  * installed by [[graft.streaming.StreamingOps]] through
  * `GraftExtensions.installRule` (ad-hoc sessions), the same dual path as
  * [[graft.plans.AsOfJoinStrategy]].
  */
object SeamfStreamingPrune extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case proj @ Project(_, rel: StreamingDataSourceV2ScanRelation) =>
      rewrite(rel, proj.references, Nil)
        .map(r => proj.copy(child = r)).getOrElse(proj)
    case proj @ Project(_,
        filt @ Filter(cond, rel: StreamingDataSourceV2ScanRelation)) =>
      rewrite(rel, proj.references ++ filt.references,
          splitConjunctivePredicates(cond))
        .map(r => proj.copy(child = filt.copy(child = r))).getOrElse(proj)
    // CollapseProject can merge the pruning Project INTO an Aggregate
    // (the rule runs in the user batch, after operatorOptimization's fixed
    // point, so whichever shape won is final) — compute the requirement
    // from the Aggregate's references directly
    case agg @ Aggregate(_, _, rel: StreamingDataSourceV2ScanRelation, _) =>
      rewrite(rel, agg.references, Nil)
        .map(r => agg.copy(child = r)).getOrElse(agg)
    case agg @ Aggregate(_, _,
        filt @ Filter(cond, rel: StreamingDataSourceV2ScanRelation), _) =>
      rewrite(rel, agg.references ++ filt.references,
          splitConjunctivePredicates(cond))
        .map(r => agg.copy(child = filt.copy(child = r))).getOrElse(agg)
    case filt @ Filter(cond, rel: StreamingDataSourceV2ScanRelation) =>
      // no projection above: every output column is still required, but
      // prunable conjuncts can still skip whole files' decode
      rewrite(rel, AttributeSet(rel.output), splitConjunctivePredicates(cond))
        .map(r => filt.copy(child = r)).getOrElse(filt)
  }

  /** Catalyst predicate -> `sources.Filter`, only for the shapes
    * [[SeamfSource.fold]] can prune (Spark's own `translateFilter` is
    * `protected[sql]`). Internal literal values unwrap to external ones
    * (`UTF8String` -> `String`); anything unrecognized returns None and the
    * predicate simply stays un-pruned — it is residual either way.
    */
  private def translate(e: Expression): Option[sources.Filter] = {
    def ext(v: Any): Any = v match {
      case s: UTF8String => s.toString
      case other => other
    }
    e match {
      case CEq(a: AttributeReference, Literal(v, _)) =>
        Some(sources.EqualTo(a.name, ext(v)))
      case CEq(Literal(v, _), a: AttributeReference) =>
        Some(sources.EqualTo(a.name, ext(v)))
      case CGt(a: AttributeReference, Literal(v, _)) =>
        Some(sources.GreaterThan(a.name, ext(v)))
      case CGt(Literal(v, _), a: AttributeReference) =>
        Some(sources.LessThan(a.name, ext(v)))
      case CGe(a: AttributeReference, Literal(v, _)) =>
        Some(sources.GreaterThanOrEqual(a.name, ext(v)))
      case CGe(Literal(v, _), a: AttributeReference) =>
        Some(sources.LessThanOrEqual(a.name, ext(v)))
      case CLt(a: AttributeReference, Literal(v, _)) =>
        Some(sources.LessThan(a.name, ext(v)))
      case CLt(Literal(v, _), a: AttributeReference) =>
        Some(sources.GreaterThan(a.name, ext(v)))
      case CLe(a: AttributeReference, Literal(v, _)) =>
        Some(sources.LessThanOrEqual(a.name, ext(v)))
      case CLe(Literal(v, _), a: AttributeReference) =>
        Some(sources.GreaterThanOrEqual(a.name, ext(v)))
      case CatalystIn(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        Some(sources.In(a.name,
          vs.map(v => ext(v.asInstanceOf[Literal].value)).toArray))
      case InSet(a: AttributeReference, hset) =>
        Some(sources.In(a.name, hset.map(ext).toArray))
      case CatalystIsNotNull(a: AttributeReference) =>
        Some(sources.IsNotNull(a.name))
      case _ => None
    }
  }

  private def rewrite(rel: StreamingDataSourceV2ScanRelation,
      needed: AttributeSet, predicates: Seq[Expression])
      : Option[StreamingDataSourceV2ScanRelation] = rel.scan match {
    case scan: SeamfScan if !scan.isAggPushed =>
      val neededNames = needed.map(_.name).toSet
      val kept = rel.output.filter(a => neededNames.contains(a.name))
      // a pure-count query references nothing: keep one cheap metadata
      // column (never `trace`) so the reader still emits one row per slot
      val newOutput =
        if (kept.nonEmpty) kept
        else rel.output.filter(_.name != "trace").take(1)

      var prune = scan.staticPrune
      predicates.foreach { p =>
        translate(p).flatMap(f => SeamfSource.fold(prune, f)).foreach {
          case (np, _) => prune = np
        }
      }

      if (newOutput.length == rel.output.length && prune == scan.staticPrune)
        None
      else {
        val orig = scan.requiredSchema
        val prunedSchema =
          StructType(newOutput.map(a => orig(orig.fieldIndex(a.name))))
        val pruned = scan.prunedCopy(prunedSchema, prune)
        Some(rel.copy(scan = pruned, output = newOutput, stream = pruned))
      }
    case _ => None
  }
}
