package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Rewrites `Filter(row_number() <= k)` over a Window into a bounded
  * top-k aggregation ([[BoundedTopK]]) + posexplode.
  *
  * Why: Spark 4's own `InferWindowGroupLimit` already bounds what crosses
  * the exchange (a Partial WindowGroupLimit runs below the shuffle), but
  * its physical plan still FULLY SORTS every map partition to feed the
  * group-limit, and sorts again after the exchange — at 100 TB that is
  * two O(n log n) passes (with spill risk) over data of which only k rows
  * per key survive. The aggregate form replaces both sorts with an
  * O(n log k) bounded heap that can never spill beyond k rows per group.
  * Measured (`SpineProbe scale`): ~1.1× at 150k rows per input partition, 4-6×
  * at 5M rows per partition — the win grows with exactly the variable
  * that grows on a cluster. Same rows out (row_number's arbitrary tie
  * order is preserved as "any k of the tied rows", identical to the
  * Window's nondeterminism under ties).
  *
  * Matched shape (the `first row per group` / `argmax` / `top-k per key`
  * idioms, e.g. `/root/reference/code/04_fts_curated_flows.R:87-88`):
  *
  * {{{ Filter(rn <= k [AND residual…], Window([rn := row_number() OVER
  *     (PARTITION BY p ORDER BY o)], p, o, child)) }}}
  *
  * becomes
  *
  * {{{ Filter(residual…, Project(child.* , pos+1 AS rn,
  *     Generate(posexplode(topk), Aggregate(p, bounded_top_k(struct(o…,
  *     child.*), k), child)))) }}}
  *
  * Only `row_number` is rewritten — `rank`/`dense_rank` can emit more than
  * k rows under ties, which a bounded buffer cannot. Set
  * `spark.graft.topk.rewrite.enabled=false` to disable, and
  * `spark.graft.topk.rewrite.maxK` (default 1024) bounds the per-group
  * heap so a `rn <= 10000000` filter keeps the sort-based plan instead of
  * a giant heap.
  *
  * Memory safety is a PRODUCT bound, not k alone: ObjectHashAggregate's
  * sort-based fallback triggers on GROUP COUNT only, so one task can hold
  * `fallbackThreshold` groups × k buffered rows before any fallback —
  * where the Window plan it replaces would sort-spill safely. The rewrite
  * therefore also requires `k × fallbackThreshold ≤
  * spark.graft.topk.rewrite.maxBufferedRowsPerTask` (default 2^21 ≈ 2M
  * rows): a session that raises the threshold (as this harness does, to
  * 65536) automatically tightens the eligible k instead of opening an
  * OOM vector.
  *
  * Two refinements shrink what the gate must count. Payload columns that
  * are partition ATTRIBUTES are never buffered — they are constant per
  * group, so they ride the aggregate's grouping output and rejoin the
  * payload after the explode. And when the surviving payload is a single
  * non-struct DOUBLE (the KMV/sketch shape), the buffer drops to
  * [[BoundedTopKDoubles]]'s flat primitive heap — 8 bytes per value, no
  * per-row objects — gated in BYTES instead of rows:
  * `k × fallbackThreshold × 8 ≤
  * spark.graft.topk.rewrite.maxBufferedBytesPerTask` (default 2^27 =
  * 128 MB), which admits k=256 under this harness's threshold where the
  * row gate stops at 32.
  */
object RewriteRankFilterToTopK extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.topk.rewrite.enabled", "true").toBoolean
  private def maxK: Int =
    conf.getConfString("spark.graft.topk.rewrite.maxK", "1024").toInt
  /** Groups-in-memory × k budget per task (see class doc). */
  private def maxBufferedRows: Long =
    conf.getConfString("spark.graft.topk.rewrite.maxBufferedRowsPerTask",
      (1L << 21).toString).toLong
  /** Byte-denominated budget for the primitive-double specialization
    * ([[BoundedTopKDoubles]]): its buffer is exactly 8 bytes per value
    * with no per-row objects, so gating ROWS would leave a ~30× memory
    * margin unusable — sketch-sized k (KMV k=256 × threshold 65536 × 8 B
    * = 128 MB worst-case per task) is admitted here while the generic
    * UnsafeRow-queue path keeps the row gate. */
  private def maxBufferedBytes: Long =
    conf.getConfString("spark.graft.topk.rewrite.maxBufferedBytesPerTask",
      (1L << 27).toString).toLong
  // via the SQLConf entry, not a hand-copied default string — the gate
  // must track the threshold the aggregate will actually fall back at
  private def fallbackThreshold: Long =
    conf.getConf(org.apache.spark.sql.internal.SQLConf
      .OBJECT_AGG_SORT_BASED_FALLBACK_THRESHOLD).toLong

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** The rn attribute, possibly behind an analyzer-inserted widening cast. */
  private def isRn(e: Expression, rn: Attribute): Boolean = e match {
    case a: Attribute => a.exprId == rn.exprId
    case c: Cast if c.dataType == LongType || c.dataType == IntegerType => isRn(c.child, rn)
    case _ => false
  }

  private def intLit(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) => Some(v)
    case Literal(v: Long, LongType) if v.isValidInt => Some(v.toInt)
    case _ => None
  }

  /** Upper bound on rn implied by one conjunct, plus whether the conjunct
    * is fully subsumed by the bound (an equality `rn = k` with k > 1 still
    * needs the residual filter to drop ranks 1..k-1). */
  private def rnBound(e: Expression, rn: Attribute): Option[(Int, Boolean)] = e match {
    case LessThanOrEqual(l, r) if isRn(l, rn) => intLit(r).map(k => (k, true))
    case LessThan(l, r) if isRn(l, rn) => intLit(r).map(k => (k - 1, true))
    case GreaterThanOrEqual(l, r) if isRn(r, rn) => intLit(l).map(k => (k, true))
    case GreaterThan(l, r) if isRn(r, rn) => intLit(l).map(k => (k - 1, true))
    case EqualTo(l, r) if isRn(l, rn) => intLit(r).map(k => (k, k == 1))
    case EqualTo(l, r) if isRn(r, rn) => intLit(l).map(k => (k, k == 1))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case f @ Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)),
            partSpec, orderSpec, child, _))
          if cond.deterministic && orderSpec.nonEmpty &&
            orderSpec.forall(so => so.child.deterministic && RowOrdering.isOrderable(so.child.dataType)) &&
            partSpec.forall(_.deterministic) =>
        val rn = alias.toAttribute
        val conjuncts = splitConjuncts(cond)
        val bounds = conjuncts.map(c => c -> rnBound(c, rn))
        val best = bounds.collect { case (c, Some((k, subsumed))) => (c, k, subsumed) }
          .sortBy(_._2).headOption
        best match {
          case Some((boundConjunct, k, subsumed)) if k >= 1 && k <= maxK =>
            val residual = conjuncts.filterNot(_ eq boundConjunct) ++
              (if (subsumed) Nil else Seq(boundConjunct))
            // Partition keys are constant within their group, so payload
            // columns that ARE partition attributes ride the aggregate's
            // grouping output instead of being buffered k times per group
            // (and serialized into every partial). Sort-key attributes
            // stay in the struct — the buffer orders by them. Floating-
            // point keys also stay buffered: grouping NORMALIZES them
            // (-0.0 → 0.0, NaN bit patterns collapse), so routing the
            // payload through the grouping output would swap each row's
            // stored value for the normalized key where the Window plan
            // emits the row's own value.
            val partAttrIds = partSpec.collect { case a: Attribute => a.exprId }.toSet
            val sortAttrIds = orderSpec.map(_.child)
              .collect { case a: Attribute => a.exprId }.toSet
            def hasFloat(dt: org.apache.spark.sql.types.DataType): Boolean = {
              import org.apache.spark.sql.types._
              dt match {
                case FloatType | DoubleType => true
                case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
                case a: ArrayType => hasFloat(a.elementType)
                case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
                case _ => false
              }
            }
            def viaGrouping(a: Attribute): Boolean =
              partAttrIds.contains(a.exprId) && !sortAttrIds.contains(a.exprId) &&
                !hasFloat(a.dataType)
            val (passThrough, buffered) = child.output.partition(viaGrouping)
            // Sort keys that are plain payload attributes are addressed
            // by ordinal; only computed keys (e.g. `lower(name)`) become
            // extra leading struct fields — the serialized partial
            // buffers stay as narrow as the input rows.
            val bufIndex = buffered.zipWithIndex
              .map { case (a, i) => a.exprId -> i }.toMap
            val extras = scala.collection.mutable.ArrayBuffer.empty[Expression]
            val sortOrdinals = orderSpec.map(_.child match {
              case a: Attribute if bufIndex.contains(a.exprId) => bufIndex(a.exprId)
              case e => extras += e; -extras.length // placeholder, fixed below
            })
            val s = extras.length
            val fixedOrdinals = sortOrdinals.map(i => if (i < 0) -i - 1 else i + s)
            val dirs = orderSpec.map(so =>
              (so.direction == Ascending, so.nullOrdering == NullsFirst))
            // Single-double payload → primitive-heap specialization with
            // the byte-denominated gate; everything else keeps the
            // generic row buffer under the row-count gate.
            val scalarDouble = s == 0 && buffered.length == 1 &&
              buffered.head.dataType == org.apache.spark.sql.types.DoubleType &&
              fixedOrdinals == Seq(0)
            val admitted =
              if (scalarDouble) k.toLong * fallbackThreshold * 8L <= maxBufferedBytes
              else k.toLong * fallbackThreshold <= maxBufferedRows
            if (!admitted) f else {
              val aggFn =
                if (scalarDouble)
                  BoundedTopKDoubles(orderSpec.head.child, k,
                    asc = dirs.head._1, nullsFirst = dirs.head._2,
                    fieldName = buffered.head.name,
                    fieldNullable = buffered.head.nullable)
                else
                  BoundedTopK(CreateStruct(extras.toSeq ++ buffered),
                    orderSpec.map(_.child), k, fixedOrdinals, dirs)
              val topkAlias = Alias(aggFn.toAggregateExpression(), "__topk")()
              val agg = Aggregate(partSpec, passThrough :+ topkAlias, child, None)
              val structType =
                aggFn.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
              val posAttr = AttributeReference("pos", IntegerType, nullable = false)()
              val colAttr = AttributeReference("col", structType, nullable = false)()
              val gen = Generate(PosExplode(topkAlias.toAttribute),
                unrequiredChildIndex = Seq(passThrough.length), outer = false,
                qualifier = None, generatorOutput = Seq(posAttr, colAttr), agg)
              // rebuild the Window's output under the ORIGINAL exprIds so
              // every parent operator resolves unchanged; grouping-borne
              // columns already carry theirs through the aggregate
              val payload = child.output.map { a =>
                if (viaGrouping(a)) a
                else Alias(GetStructField(colAttr, s + bufIndex(a.exprId), Some(a.name)),
                  a.name)(exprId = a.exprId, qualifier = a.qualifier)
              }
              val rnExpr = Alias(Add(posAttr, Literal(1)), alias.name)(
                exprId = alias.exprId, qualifier = alias.qualifier)
              val project = org.apache.spark.sql.catalyst.plans.logical.Project(
                payload :+ rnExpr, gen)
              if (residual.isEmpty) project
              else Filter(residual.reduce(And), project)
            }
          case _ => f
        }
    }
  }
}
