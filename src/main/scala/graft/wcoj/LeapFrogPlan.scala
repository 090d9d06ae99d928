package graft.wcoj

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan}
import org.apache.spark.sql.types.LongType

/** The worst-case-optimal join as a first-class Catalyst operator
  * (SURVEY §7.2: "custom SparkStrategy + physical op") — the (c) route of
  * the custom-operator preference order, replacing the mapPartitions
  * wrapper with a plan node Catalyst sees, optimizes around, and shows in
  * `.explain()`.
  *
  * Children must each emit exactly their attribute list (Long columns,
  * ordered consistently with `attrOrder`); output is one row per binding of
  * `attrOrder`.
  */
final case class LeapFrogJoinPlan(
    children: Seq[LogicalPlan],
    childAttrs: Seq[Seq[String]],
    attrOrder: Seq[String],
    override val output: Seq[Attribute]) extends LogicalPlan {

  // output attributes are constructor state, NOT recomputed per instance:
  // tree transforms copy() the node, and fresh exprIds would orphan every
  // downstream reference (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND).

  // the bindings are NEW attributes, not pass-throughs of child columns —
  // declare them produced or the analyzer reports MISSING_ATTRIBUTES.
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet

  // EVERY child column is consumed (each is a trie level), but the node
  // carries no Catalyst expressions, so the derived `references` would be
  // EMPTY — and ColumnPruning's generic case prunes any child column not in
  // `child.references ++ parent.references`. With a Project/Aggregate
  // directly above (e.g. `node.groupBy("a").count()` — no Filter in
  // between), that pruned the join inputs to a column subset and the
  // enumeration silently matched nothing. Declaring the true references
  // makes pruning keep all join columns.
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(children.flatMap(_.output))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan = copy(children = newChildren)
}

object LeapFrogJoinPlan {
  def create(children: Seq[LogicalPlan], childAttrs: Seq[Seq[String]],
      attrOrder: Seq[String]): LeapFrogJoinPlan =
    LeapFrogJoinPlan(children, childAttrs, attrOrder,
      attrOrder.map(a => AttributeReference(a, LongType, nullable = false)()))
}

/** Physical operator: HyperCube/Shares routing + per-cell leapfrog.
  * Distribution is performed internally (flatMap-replicate + partitionBy),
  * like CartesianProductExec handles its own cross-distribution, so no
  * requiredChildDistribution contract is imposed on the children.
  */
final case class LeapFrogJoinExec(
    children: Seq[SparkPlan],
    childAttrs: Seq[Seq[String]],
    attrOrder: Seq[String],
    override val output: Seq[Attribute]) extends SparkPlan with CodegenSupport {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): SparkPlan = copy(children = newChildren)

  @transient private lazy val order: Array[String] = attrOrder.toArray

  @transient private lazy val attrsByIdx: Array[Array[String]] =
    childAttrs.map(_.sortBy(order.indexOf(_)).toArray).toArray

  /** HyperCube routing pipeline: children → global-order long arrays →
    * share-optimized cell replication → one partition per cell. Shared by
    * the interpreted and whole-stage-codegen paths.
    */
  @transient private lazy val routed: RDD[(Int, (Int, Array[Long]))] = {
    val sc = sparkContext
    val ord = order

    // children -> RDD[Array[Long]] in global-order column layout; persisted
    // because both the share optimizer's count and the routing pass below
    // consume them — without the persist every child plan executes twice.
    val prepped = children.zip(childAttrs).map { case (child, attrs) =>
      val sortedAttrs = attrs.sortBy(ord.indexOf(_)).toArray
      val perm = sortedAttrs.map(attrs.indexOf(_))
      val n = attrs.length
      (sortedAttrs, child.execute().map { row =>
        Array.tabulate(n)(i => row.getLong(perm(i)))
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

    // one stats pass over the cached inputs (count + per-attribute heavy-
    // hitter sketches), then the share choice; the output bound, when the
    // routing computed one, the cells and the shares (`a=1,b=2,c=2`) go to
    // the query's trace
    val stats = SkewStats.relStats(prepped)
    val (sized, bound) = LeapFrogJoinExec.route(ord.toSeq, stats, sc.defaultParallelism,
      graft.Small.cap(session), LeapFrogJoinExec.SingleCellMaxBindings,
      () => SkewStats.degreeBound(prepped, ord.toSeq))
    bound.foreach(b => graft.QueryTrace.record(session, "wcoj.outputBound",
      math.min(b, Long.MaxValue.toDouble).toLong))
    val shares = sized.shares
    graft.QueryTrace.record(session, "wcoj.cells", shares.numCells)
    graft.QueryTrace.record(session, "wcoj.shares",
      shares.attrs.zip(shares.p).map { case (a, p) => s"$a=$p" }.mkString(","))
    val bcShares = sc.broadcast(shares)
    val nCells = shares.numCells

    val tagged = prepped.zipWithIndex.map { case ((attrs, rdd), idx) =>
      val attrIdx = attrs.map(a => ord.indexOf(a))
      rdd.flatMap { row =>
        val sh = bcShares.value
        val bucket = Array.fill(ord.length)(-1)
        attrs.indices.foreach(k => bucket(attrIdx(k)) = sh.bucketOf(attrs(k), row(k)))
        val free = (0 until ord.length).filter(bucket(_) < 0)
        def cellsFor(fi: Int, acc: Array[Int]): Iterator[Int] =
          if (fi == free.length) Iterator.single(sh.cellId(acc))
          else (0 until sh.p(free(fi))).iterator.flatMap { b =>
            val a2 = acc.clone(); a2(free(fi)) = b; cellsFor(fi + 1, a2)
          }
        cellsFor(0, bucket).map(c => (c, (idx, row)))
      }
    }.reduce(_ union _)

    val byCell = tagged.partitionBy(new HashPartitioner(nCells) {
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    })
    // Materialize the shuffle map stage now, while the children are cached,
    // then release the cache: the no-op result stage fetches nothing, and
    // the real job below reuses the shuffle files (skipped stage) instead of
    // recomputing child plans.
    sc.runJob(byCell, (_: Iterator[(Int, (Int, Array[Long]))]) => ())
    prepped.foreach(_._2.unpersist(blocking = false))
    byCell
  }

  /** Per-partition prologue + lazy leapfrog enumeration, called from BOTH
    * paths (generated code invokes it through a plan reference). Bindings
    * come out as raw long[] in attr order — the codegen consumer reads the
    * columns straight from the array, no row materialization at all.
    */
  def buildBindingIterator(raw: Iterator[InternalRow]): Iterator[Array[Long]] = {
    val it = raw.asInstanceOf[Iterator[(Int, (Int, Array[Long]))]]
    val buckets = Array.fill(attrsByIdx.length)(new scala.collection.mutable.ArrayBuffer[Array[Long]]())
    it.foreach { case (_, (idx, row)) => buckets(idx) += row }
    val local = attrsByIdx.indices.map { i =>
      LeapFrog.Relation(attrsByIdx(i), LeapFrog.sortRows(buckets(i).toArray))
    }
    if (local.exists(_.rows.isEmpty)) Iterator.empty
    else LeapFrog.joinIterator(local, order)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = output
    val n = order.length
    routed.mapPartitions { it =>
      // fully lazy enumeration with direct Unsafe projection: O(depths)
      // state, zero per-binding allocation. The emitted UnsafeRow buffer
      // is REUSED across bindings — the standard SparkPlan.execute()
      // contract (buffering consumers copy for themselves, as
      // HashAggregate/Sort/shuffle-write/collect all do).
      val proj = UnsafeProjection.create(schema.map(_.dataType).toArray)
      val values = new Array[Any](n)
      val reusable = new GenericInternalRow(values)
      buildBindingIterator(it.asInstanceOf[Iterator[InternalRow]]).map { b =>
        var i = 0
        while (i < b.length) { values(i) = b(i); i += 1 }
        proj(reusable)
      }
    }
  }

  /* == whole-stage codegen: this node is a produce root. The enumeration
   * stays in the allocation-free scala iterator; the generated loop reads
   * each binding's columns as primitive longs and feeds the downstream
   * consume chain (filter, partial aggregate, projection) INLINE — no
   * UnsafeProjection per binding, no InputAdapter row hand-off. == */

  // bindings surface as fresh primitive locals each iteration (never a
  // reused row buffer), so downstream buffering needs no defensive copy.
  // Must be overridden: the trait default throws for > 1 child.
  override def needCopyResult: Boolean = false

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    Seq(routed.asInstanceOf[RDD[InternalRow]])

  override protected def doProduce(ctx: CodegenContext): String = {
    val thisPlan = ctx.addReferenceObj("leapfrog", this, classOf[LeapFrogJoinExec].getName)
    val input = ctx.addMutableState("scala.collection.Iterator", "lfInput",
      v => s"$v = inputs[0];", forceInline = true)
    val iterTerm = ctx.addMutableState("scala.collection.Iterator", "lfBindings",
      forceInline = true)
    val binding = ctx.freshName("binding")
    val colVars = output.indices.map { i =>
      val name = ctx.freshName(s"lfCol$i")
      ExprCode.forNonNullValue(JavaCode.variable(name, LongType))
    }
    val colDecls = output.indices.map { i =>
      s"long ${colVars(i).value} = $binding[$i];"
    }.mkString("\n")
    s"""
       |if ($iterTerm == null) {
       |  $iterTerm = $thisPlan.buildBindingIterator($input);
       |}
       |while ($iterTerm.hasNext()) {
       |  long[] $binding = (long[]) $iterTerm.next();
       |  $colDecls
       |  ${consume(ctx, colVars).trim}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }
}

object LeapFrogJoinExec {

  /** Routed payload above which one cell never runs: the r14 break-even,
    * past which a parallelism-floor grid pays for its scheduling.
    */
  private[wcoj] val SingleCellBytes: Long = 4L << 20

  /** Estimated output bindings one cell may enumerate: one doubling above
    * the largest measured single-cell winner (dense triangle, bound 9.2M /
    * actual 8.3M, 1.27 vs 1.40 s on the grid) and 20× under the smallest
    * measured loser (the 4-cycle, bound 3.9e8: grid 2.3 s vs serial 8.5+ s).
    * At ~6M bindings/s/task a worst-case serial tail is ~2.5 s, the order
    * of the grid's fixed cost.
    */
  private[wcoj] val SingleCellMaxBindings: Long = 16L << 20

  /** The HyperCube route: the chosen shares, and the output bound when one
    * was computed.
    *
    * One cell when the routed payload fits both `cap` (the one small-input
    * cap, [[graft.Small]]) and [[SingleCellBytes]], and the estimated output
    * fits `bindingBudget`: a floor-sized grid of tiny inputs only fans rows
    * into near-empty cells and sub-millisecond tasks. Input bytes alone are
    * blind to output size (the sf0.1 4-cycle routes ~4 MB yet enumerates
    * 27.8M bindings: one task cost ×6.5), so the output is bounded two ways,
    * taking the tighter: the AGM bound at the optimal fractional edge cover
    * of the RelStat counts, free but blind to degree caps (capped-graph S6:
    * AGM 5.9e7 vs 1.6e5 actual), and only when AGM is over budget, one
    * exact `degreeBound` job over inputs already measured small.
    *
    * Otherwise the grid grows from `floor` until the estimated max cell
    * payload fits `cap` (one cell holds at most one task's bytes), up to
    * 4096 cells and while growth still shrinks that payload; at cap 0, or a
    * cap below one row of every relation, it stays at the floor.
    */
  private[wcoj] def route(order: Seq[String], stats: Seq[HyperCube.RelStat], floor: Int,
      cap: Long, bindingBudget: Long,
      degreeBound: () => Double): (HyperCube.SizedShares, Option[Double]) = {
    val payload = stats.map(_.bytes).sum
    val bound =
      if (!graft.Small.fits(cap, payload) || payload > SingleCellBytes) None
      else {
        val agm = graft.plans.FractionalEdgeCover.agmBound(
          order.toSet, stats.map(s => (s.attrs, s.rows)))
        Some(if (agm <= bindingBudget) agm else math.min(agm, degreeBound()))
      }
    val sized =
      if (bound.exists(_ <= bindingBudget)) HyperCube.optimalSharesStat(order, stats, 1)
      else HyperCube.budgetedShares(order, stats, floor,
        if (cap > 0) cap else Long.MaxValue, math.max(floor, 4096))
    (sized, bound)
  }
}

/** Planner strategy turning the logical node into the exec (SURVEY §7.5(b)). */
object WcojStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p @ LeapFrogJoinPlan(children, childAttrs, attrOrder, _) =>
      LeapFrogJoinExec(children.map(planLater), childAttrs, attrOrder, p.output) :: Nil
    case _ => Nil
  }
}
