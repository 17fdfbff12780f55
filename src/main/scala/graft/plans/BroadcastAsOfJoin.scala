package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences,
  BoundReference, Expression, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution,
  Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport,
  SparkPlan}

/** Broadcast variant of the native as-of join (round-11 verdict item 2).
  *
  * The sort-merge [[AsOfJoinExec]] demands `ClusteredDistribution` on
  * BOTH children — the right plan for fact-to-fact as-of, but a 100 TB
  * fact as-of-joining a dimension-sized right side would pay a full
  * fact shuffle + sort that a broadcast hash join in the same position
  * would not. This operator is the broadcast-hash-join analogue: the
  * small right side broadcasts once (`IdentityBroadcastMode`, like
  * BroadcastNestedLoopJoinExec), each executor builds ONE per-key index
  * of time-sorted candidate arrays, and every left row resolves its
  * match with a binary search — **no left exchange, no left sort, left
  * ordering and partitioning pass straight through**. AQE inserts the
  * usual `BroadcastQueryStageExec`; the left side stays wherever its
  * scan put it.
  *
  * Selection is stats-based in [[AsOfJoinStrategy]] (the honest
  * left-rows × width statistics make the right side's estimate
  * trustworthy): right side under `spark.sql.autoBroadcastJoinThreshold`
  * AND all five key/time/tie columns long-backed → broadcast; otherwise
  * the co-partitioned merge. The same query can therefore plan
  * broadcast at one scale and shuffle at 100×, exactly like Spark's
  * own join selection, and a threshold of `-1` disables it the same
  * way — AsOfJoinSpec differential-tests the two operators on
  * identical inputs by moving that threshold.
  *
  * Match semantics are identical to [[AsOfJoinExec]] (backward /
  * forward / nearest, tolerance, plain-join NULL rules, ties by the
  * sort on (time, tie)): per key the candidates sort by (time asc, tie
  * asc), so "last index with time <= t" IS the backward match (largest
  * tie among equal times) and "first index with time > t" IS the
  * forward match (smallest tie) — the merge loop's tie rules fall out
  * of the same order the merge sorts by.
  */
case class BroadcastAsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Expression, dir: AsOfDirection,
    tolerance: Option[Long] = None)
  extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatched" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched left rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  // the whole point: the left side is untouched — partitioning AND
  // ordering pass through, so a downstream op that liked the scan's
  // layout still likes it
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  // strategy guarantees long-backed shapes (it falls back to the
  // merge exec otherwise), so all five binds succeed
  private def at(e: Expression, out: Seq[Attribute]): AsOfJoinExec.LongAt =
    AsOfJoinExec.longAt(BindReferences.bindReference(e, out)).getOrElse(
      throw new IllegalStateException(
        s"broadcast as-of planned over a non-long-backed column: $e"))

  // -------------------------------------------------------------------
  // Whole-stage codegen, BroadcastHashJoinExec-style: this node rides
  // the STREAMED (left) child's produce loop — doConsume receives each
  // left row's column variables, does the per-key binary search inline,
  // and hands (left vars ++ null-extended right vars) to the downstream
  // consume(). scan -> as-of -> partial agg is ONE generated stage: no
  // iterator breaks, no per-row projection, exactly what the merge
  // exec's codegen already does for the shuffle shape.
  // `spark.sql.codegen.wholeStage=false` runs doExecute instead.
  // -------------------------------------------------------------------

  // binary node: the default needCopyResult throws on 2 children.
  // Output vars are fresh locals (right values read out of stable
  // broadcast rows), so only the streamed side's own requirement
  // propagates — the BroadcastHashJoinExec contract.
  override def needCopyResult: Boolean =
    left.asInstanceOf[CodegenSupport].needCopyResult

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    left.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = {
    val lk = at(leftKey, left.output)
    val lt = at(leftTime, left.output)
    val group = classOf[BroadcastAsOfJoinExec.Group].getName
    // executor-side lazy index build: a Function0 closure carrying the
    // broadcast and the right-side accessors ships as a reference
    // object; indexFor memoizes per broadcast value, so 32 tasks on one
    // executor share one build
    val relFactory = {
      val rk = at(rightKey, right.output)
      val rt = at(rightTime, right.output)
      val tie = at(rightTie, right.output)
      val rel = right.executeBroadcast[Array[InternalRow]]()
      () => BroadcastAsOfJoinExec.indexFor(rel.value, rk, rt, tie)
    }
    val factoryRef = ctx.addReferenceObj("asofIndexFactory", relFactory,
      "scala.Function0")
    val index = ctx.addMutableState("java.util.HashMap", "asofBcIndex",
      v => s"$v = (java.util.HashMap) $factoryRef.apply();")
    val numOutput = metricTerm(ctx, "numOutputRows")
    val numMatched = metricTerm(ctx, "numMatched")
    // left key/time evaluated from the incoming column variables
    ctx.currentVars = input
    val keyEv = BoundReference(lk.ord, left.output(lk.ord).dataType,
      left.output(lk.ord).nullable).genCode(ctx)
    val timeEv = BoundReference(lt.ord, left.output(lt.ord).dataType,
      left.output(lt.ord).nullable).genCode(ctx)
    val g = ctx.freshName("asofGroup")
    val m = ctx.freshName("asofMatched")
    val fi = ctx.freshName("asofFi")
    val bi = ctx.freshName("asofBi")
    val t = ctx.freshName("asofT")
    def inTol(diff: String): String =
      tolerance.fold("true")(d => s"($diff >= 0L && $diff <= ${d}L)")
    val pick = dir match {
      case AsOfDirection.Forward =>
        s"""
           |if ($fi < $g.times().length &&
           |    ${inTol(s"$g.times()[$fi] - $t")}) $m = $g.rows()[$fi];
         """.stripMargin
      case AsOfDirection.Backward =>
        s"""
           |if ($bi >= 0 && ${inTol(s"$t - $g.times()[$bi]")}) $m = $g.rows()[$bi];
         """.stripMargin
      case AsOfDirection.Nearest =>
        val bwOk = ctx.freshName("asofBwOk")
        val fwOk = ctx.freshName("asofFwOk")
        s"""
           |boolean $bwOk = $bi >= 0 && ${inTol(s"$t - $g.times()[$bi]")};
           |boolean $fwOk = $fi < $g.times().length &&
           |  ${inTol(s"$g.times()[$fi] - $t")};
           |if ($bwOk && (!$fwOk || java.lang.Long.compareUnsigned(
           |    $t - $g.times()[$bi], $g.times()[$fi] - $t) <= 0)) {
           |  $m = $g.rows()[$bi];
           |} else if ($fwOk) {
           |  $m = $g.rows()[$fi];
           |}
         """.stripMargin
    }
    // right-side output columns read from the matched row (or null)
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofRIsNull")
      val value = ctx.freshName("asofRValue")
      val jt = CodeGenerator.javaType(a.dataType)
      val cde =
        code"""
          |boolean $isNull = $m == null || $m.isNullAt($i);
          |$jt $value = $isNull ? ${CodeGenerator.defaultValue(a.dataType)}
          |  : (${CodeGenerator.getValue(m, a.dataType, i.toString)});
        """.stripMargin
      ExprCode(cde, JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, a.dataType))
    }
    s"""
       |${keyEv.code}
       |${timeEv.code}
       |org.apache.spark.sql.catalyst.InternalRow $m = null;
       |if (!${keyEv.isNull} && !${timeEv.isNull}) {
       |  $group $g = ($group) $index.get(
       |    java.lang.Long.valueOf((long) ${keyEv.value}));
       |  if ($g != null) {
       |    long $t = (long) ${timeEv.value};
       |    int $fi = $g.upperBound($t);
       |    int $bi = $fi - 1;
       |    $pick
       |  }
       |}
       |$numOutput.add(1);
       |if ($m != null) $numMatched.add(1);
       |${consume(ctx, input ++ rightVars)}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = at(leftKey, left.output)
    val lt = at(leftTime, left.output)
    val rk = at(rightKey, right.output)
    val rt = at(rightTime, right.output)
    val tie = at(rightTie, right.output)
    val d = dir
    val tol = tolerance
    val attrs = output
    val nRight = right.output.size
    val outRows = longMetric("numOutputRows")
    val matched = longMetric("numMatched")
    val rel = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions({ lIter =>
      val index = BroadcastAsOfJoinExec.indexFor(rel.value, rk, rt, tie)
      val emit = new AsOfJoinExec.Emit(new JoinedRow,
        new GenericInternalRow(nRight), UnsafeProjection.create(attrs, attrs),
        outRows, matched)
      val fwd = d == AsOfDirection.Forward
      val nearest = d == AsOfDirection.Nearest
      val hasTol = tol.isDefined
      val tolD = tol.getOrElse(0L)
      lIter.map { l =>
        var m: InternalRow = null
        if (!lk.isNull(l) && !lt.isNull(l)) {
          val g = index.get(lk.get(l))
          if (g != null) {
            val t = lt.get(l)
            // first index with time > t: forward candidate; the slot
            // before it is the backward candidate (see class doc for
            // why this encodes both tie rules)
            val fi = g.upperBound(t)
            val bi = fi - 1
            def inTol(diff: Long): Boolean =
              !hasTol || (diff >= 0 && diff <= tolD)
            if (fwd) {
              if (fi < g.times.length && inTol(g.times(fi) - t))
                m = g.rows(fi)
            } else if (nearest) {
              // distances compare UNSIGNED, ties toward backward —
              // same rule as both merge loops
              val bwOk = bi >= 0 && inTol(t - g.times(bi))
              val fwOk = fi < g.times.length && inTol(g.times(fi) - t)
              if (bwOk && (!fwOk || java.lang.Long.compareUnsigned(
                  t - g.times(bi), g.times(fi) - t) <= 0)) m = g.rows(bi)
              else if (fwOk) m = g.rows(fi)
            } else if (bi >= 0 && inTol(t - g.times(bi)))
              m = g.rows(bi)
          }
        }
        emit(l, m)
      }
    }, preservesPartitioning = true)
  }
}

object BroadcastAsOfJoinExec {

  /** One key's candidates: parallel arrays sorted by (time, tie). The
    * times array is scanned by binary search; rows are the full right
    * rows (broadcast copies — safe to hand out, never mutated). */
  final class Group(val times: Array[Long], val rows: Array[InternalRow]) {
    /** First index with times(i) > t (all-<= → length). Duplicates safe:
      * returns the index AFTER the last t-valued slot. */
    def upperBound(t: Long): Int = {
      var lo = 0
      var hi = times.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (times(mid) <= t) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Index build is O(n log n) in the BROADCAST side only — dimension
    * work, never fact work. Built once per executor per (broadcast,
    * column-triple): the outer cache is keyed weakly on the broadcast
    * value array (so repeated partitions share one build and the index
    * dies with the broadcast), and the inner key carries the
    * (key, time, tie) ORDINALS that built it — ReuseExchange dedupes
    * identical broadcasts, so two as-of joins against the same
    * dimension through DIFFERENT columns share one rows array and
    * must NOT share one index (they'd silently binary-search the
    * wrong column). */
  private val cache = new java.util.WeakHashMap[AnyRef,
    java.util.HashMap[(Int, Int, Int), java.util.HashMap[Long, Group]]]

  def indexFor(rows: Array[InternalRow], rk: AsOfJoinExec.LongAt,
      rt: AsOfJoinExec.LongAt,
      tie: AsOfJoinExec.LongAt): java.util.HashMap[Long, Group] =
    cache.synchronized {
      var byCols = cache.get(rows)
      if (byCols == null) {
        byCols = new java.util.HashMap[(Int, Int, Int),
          java.util.HashMap[Long, Group]]
        cache.put(rows, byCols)
      }
      val colKey = (rk.ord, rt.ord, tie.ord)
      val hit = byCols.get(colKey)
      if (hit != null) hit
      else {
        val built = build(rows, rk, rt, tie)
        byCols.put(colKey, built)
        built
      }
    }

  private def build(rows: Array[InternalRow], rk: AsOfJoinExec.LongAt,
      rt: AsOfJoinExec.LongAt,
      tie: AsOfJoinExec.LongAt): java.util.HashMap[Long, Group] = {
    // NULL key or NULL time rows are never candidates (same rule the
    // merge applies while advancing); NULL tie sorts first like the
    // merge's ascending NULLS FIRST sort would place it
    val valid = rows.filter(r => !rk.isNull(r) && !rt.isNull(r))
    java.util.Arrays.sort(valid, new java.util.Comparator[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = {
        val c1 = java.lang.Long.compare(rk.get(a), rk.get(b))
        if (c1 != 0) return c1
        val c2 = java.lang.Long.compare(rt.get(a), rt.get(b))
        if (c2 != 0) return c2
        val an = tie.isNull(a); val bn = tie.isNull(b)
        if (an && bn) 0
        else if (an) -1
        else if (bn) 1
        else java.lang.Long.compare(tie.get(a), tie.get(b))
      }
    })
    val out = new java.util.HashMap[Long, Group]
    var i = 0
    val n = valid.length
    while (i < n) {
      val k = rk.get(valid(i))
      var j = i + 1
      while (j < n && rk.get(valid(j)) == k) j += 1
      val times = new Array[Long](j - i)
      val grp = new Array[InternalRow](j - i)
      var p = i
      while (p < j) { times(p - i) = rt.get(valid(p)); grp(p - i) = valid(p); p += 1 }
      out.put(k, new Group(times, grp))
      i = j
    }
    out
  }
}
