package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: dot product of two double arrays.
  *
  * Why an Expression and not `aggregate(zip_with(...))`: the higher-order
  * functions allocate a lambda frame per element and block some codegen
  * paths; this kernel generates a tight primitive loop inside whole-stage
  * codegen — the difference is large when the ANN operators evaluate
  * millions of candidate pairs. Summation is in ascending index order,
  * matching both the HOF fold and the DuckDB oracle's list_dot_product,
  * so results are value-identical.
  *
  * NULL semantics mirror the HOF form exactly (so [[DotRewrite]] is
  * value-preserving on arbitrary user queries): NULL if either array is
  * NULL, if lengths differ (zip_with pads the shorter side with nulls),
  * or if a paired element is NULL. The element-null branch is emitted
  * only when the input type admits null elements — the engine's own
  * containsNull=false vectors keep the tight two-load loop.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  // fixed for the expression's lifetime — lazy val, not a def, so the
  // interpreted path doesn't re-derive it per row
  private lazy val elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    if (elemNullable) {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        s += x.getDouble(i) * y.getDouble(i); i += 1
      }
    } else {
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val nullGuard =
        if (elemNullable) s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance Σ(a_i - b_i)² between two double arrays, summed in
  * ascending index order — value-identical to the oracle's per-dimension
  * `sum((x - s)*(x - s))` and to the HOF fold. NULL on length mismatch
  * and on NULL elements (same contract as graft_dot; a silent
  * truncation or a null slot read as 0 would hide a malformed-input
  * bug as a wrong distance). As in graft_dot, the element-null branch
  * is emitted only when the input type admits null elements.
  */
case class L2Dist2(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_l2 requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2"
  override def nullable: Boolean = true

  private lazy val elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    if (elemNullable) {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val d = x.getDouble(i) - y.getDouble(i); s += d * d; i += 1
      }
    } else {
      while (i < n) { val d = x.getDouble(i) - y.getDouble(i); s += d * d; i += 1 }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val nullGuard =
        if (elemNullable) s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullGuard
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 0-based index of the nearest bank row (null if the bank is empty):
  * scans a bank of `m = flat.len / dim` points (row-major flattened,
  * dim = point.len) for the least squared L2 to `point`. Inner sum
  * ascending; strict `<` keeps the FIRST index on ties, so with a bank
  * sorted by (id, pos) the tie-break matches the oracle's
  * `ORDER BY d, id`. The nearest row's distance is graft_l2 over its
  * slice — the same fold of the same squared differences, so equal to
  * the scan's minimum bit-for-bit (VectorExprSpec asserts it).
  * Partial-distance exit: a row's fold stops once its running sum is no
  * longer `< best`. This is exact — IEEE addition of non-negative terms
  * never decreases the sum, so a row whose prefix already reached
  * `best` could not win under the strict-`<` first-index rule, and a
  * NaN sum is never `< best` whether the fold stops or not.
  * Replaces an O(n·m)-row broadcast join + hash-agg with an O(n)-row
  * codegen loop — the difference between a 180M-row shuffle and 6.7k
  * tight loops at sf0.1, and the reason the scored side never shuffles
  * at 100 TB.
  */
case class ArgMinDist2(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_argmin_dist2"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val flat = a.asInstanceOf[ArrayData]
    val p = b.asInstanceOf[ArrayData]
    val dim = p.numElements()
    val m = if (dim == 0) 0 else flat.numElements() / dim
    var best = Double.PositiveInfinity
    var bi = -1L
    var i = 0
    while (i < m) {
      var s = 0.0
      var j = 0
      val off = i * dim
      while (j < dim && s < best) {
        val d = p.getDouble(j) - flat.getDouble(off + j); s += d * d; j += 1
      }
      if (s < best) { best = s; bi = i.toLong }
      i += 1
    }
    if (bi < 0) null else bi
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best")
      val bi = ctx.freshName("bi")
      s"""
         |int $dim = $b.numElements();
         |int $m = ($dim == 0) ? 0 : $a.numElements() / $dim;
         |double $best = Double.POSITIVE_INFINITY;
         |long $bi = -1L;
         |for (int $i = 0; $i < $m; $i++) {
         |  double $s = 0.0;
         |  int $off = $i * $dim;
         |  for (int $j = 0; $j < $dim && $s < $best; $j++) {
         |    double $d = $b.getDouble($j) - $a.getDouble($off + $j);
         |    $s += $d * $d;
         |  }
         |  if ($s < $best) { $best = $s; $bi = (long) $i; }
         |}
         |if ($bi < 0) { ${ev.isNull} = true; } else { ${ev.value} = $bi; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of common elements between two SORTED, duplicate-free long
  * arrays (graft_sorted_inter) — the set-intersection cardinality kernel
  * behind qd4's n-gram Jaccard. A single merge walk over the two arrays:
  * zero per-row allocation, where `size(array_intersect(a, b))` builds a
  * hash set PER CANDIDATE PAIR (~100k pairs × ~300-element arrays at
  * sf0.1 made array_intersect qd4's dominant cost). Value-identical to
  * array_intersect's cardinality on sorted distinct null-free inputs —
  * the only shape the dedup pipeline produces (sort_array ∘ collect_list
  * ∘ distinct over 60-bit hashes). NULL if either array is NULL; a NULL
  * element (impossible upstream) yields NULL rather than a silent count.
  */
case class SortedInterCount(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_inter requires array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "graft_sorted_inter"
  override def nullable: Boolean = true

  private lazy val elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      if (elemNullable && (x.isNullAt(i) || y.isNullAt(j))) return null
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val nullGuard =
        if (elemNullable) s"if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $n && $j < $m) {
         |  $nullGuard
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; } else if ($xv > $yv) { $j++; } else { $c++; $i++; $j++; }
         |}
         |if (!${ev.isNull}) { ${ev.value} = $c; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Packed k-nearest-neighbour scan (graft_knn): against a bank of
  * m = flat.len/q.len points (row-major flattened, candidate ids in the
  * PARALLEL sorted `ids` array), return the k nearest to `q` as an
  * array<struct<nid string, d double>> ordered by (d asc, nid asc),
  * where d = sqrt(Σ(q_j − c_j)²) + eps and candidates whose id equals
  * `qid` are skipped (the pairwise join's a_id ≠ b_id guard).
  *
  * Exact-parity contract (q11/q12's pairwise semantics): the summation
  * is ascending-index (Detect.dist2's left fold), eps is added to the
  * sqrt BEFORE selection — so selection order is identical to the old
  * `row_number() OVER (ORDER BY d+eps, nid)` on the materialized pair
  * stream, including the float-equality ties eps can create — and nid
  * ties compare in UTF8String binary order (what Spark's string sort
  * uses). Replaces an O(n·m)-ROW shuffle + 26M-row window sort with an
  * O(n)-row broadcast probe of |positions| packed rows: the FLOPs are
  * identical, the exchanged rows drop by ~m×. Selection keeps a sorted
  * k-buffer (k is small: insertion beats a heap).
  *
  * Eval-based (CodegenFallback-style via eval): the projection evaluates
  * once per PATCH (n rows), not per pair — interpretation overhead is
  * n × k-insert work, noise next to the in-loop distance math; a
  * struct-array-producing handwritten codegen buys nothing here.
  */
case class KnnDist(children: Seq[Expression]) extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(children.length == 6, "graft_knn(qid, q, ids, flat, k, eps) takes 6 args")

  override def checkInputDataTypes(): TypeCheckResult = {
    val Seq(qid, q, ids, flat, k, eps) = children
    val ok = qid.dataType == org.apache.spark.sql.types.StringType &&
      (q.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }) &&
      (ids.dataType match {
        case ArrayType(org.apache.spark.sql.types.StringType, _) => true; case _ => false }) &&
      (flat.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }) &&
      k.dataType == org.apache.spark.sql.types.IntegerType && k.foldable &&
      eps.dataType == DoubleType && eps.foldable
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_knn requires (string, array<double>, array<string>, array<double>, int literal, double literal)")
  }
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("nid", org.apache.spark.sql.types.StringType, false),
      org.apache.spark.sql.types.StructField("d", DoubleType, false))), false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_knn"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val qidA = children(0).eval(input)
    val qA = children(1).eval(input)
    val idsA = children(2).eval(input)
    val flatA = children(3).eval(input)
    val kA = children(4).eval(input)
    val epsA = children(5).eval(input)
    if (qidA == null || qA == null || idsA == null || flatA == null ||
        kA == null || epsA == null) return null
    val eps = epsA.asInstanceOf[Double]
    val qid = qidA.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    val q = qA.asInstanceOf[ArrayData]
    val ids = idsA.asInstanceOf[ArrayData]
    val flat = flatA.asInstanceOf[ArrayData]
    val k = kA.asInstanceOf[Int]
    if (k <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // fail-LOUD on packing bugs: a null here would be silently dropped
    // by the downstream explode(), so a dim/parallel-array mismatch
    // would read as "fewer neighbours" instead of an error
    val dim = q.numElements()
    if (dim == 0 && (ids.numElements() != 0 || flat.numElements() != 0))
      throw new IllegalStateException(
        s"graft_knn: zero-dim query against a nonempty bank " +
          s"(ids=${ids.numElements()}, flat=${flat.numElements()})")
    if (dim == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    if (flat.numElements() % dim != 0)
      throw new IllegalStateException(
        s"graft_knn: flat bank length ${flat.numElements()} is not a multiple of dim $dim")
    val m = flat.numElements() / dim
    if (ids.numElements() != m)
      throw new IllegalStateException(
        s"graft_knn: ids length ${ids.numElements()} != bank size $m " +
          s"(flat=${flat.numElements()}, dim=$dim)")
    val ds = new Array[Double](k)
    val ns = new Array[org.apache.spark.unsafe.types.UTF8String](k)
    var cnt = 0
    var i = 0
    while (i < m) {
      val nid = ids.getUTF8String(i)
      if (nid.compareTo(qid) != 0) {
        var s = 0.0
        var j = 0
        val off = i * dim
        while (j < dim) { val d = q.getDouble(j) - flat.getDouble(off + j); s += d * d; j += 1 }
        val dv = math.sqrt(s) + eps
        if (cnt < k || dv < ds(cnt - 1) ||
            (dv == ds(cnt - 1) && nid.compareTo(ns(cnt - 1)) < 0)) {
          // insertion position by (d, nid)
          var p = if (cnt < k) cnt else k - 1
          while (p > 0 && (dv < ds(p - 1) ||
              (dv == ds(p - 1) && nid.compareTo(ns(p - 1)) < 0))) {
            ds(p) = ds(p - 1); ns(p) = ns(p - 1); p -= 1
          }
          ds(p) = dv; ns(p) = nid
          if (cnt < k) cnt += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](cnt)
    var r = 0
    while (r < cnt) {
      out(r) = org.apache.spark.sql.catalyst.InternalRow(ns(r), ds(r)); r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object VectorExprs {

  private def kernel[T <: Expression](name: String, cls: Class[T])(build: Seq[Expression] => T)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The full kernel set, (name, info, builder) — one list behind both
    * [[register]] and graft.GraftExtensions, so neither route can drift
    * from the set of names operators resolve.
    * graft_bloom_agg / graft_might_contain expose Spark's own
    * runtime-filter bloom expressions as addressable SQL functions:
    * bloom_agg(xxhash64(key), nItems, nBits) builds the
    * merge-combinable sketch; might_contain(bloom, xxhash64(key)) is
    * the no-false-negative probe — the same machinery Catalyst injects
    * for InjectRuntimeFilter, here explicit for bloom-prefiltered
    * operators (Dedup.bloomIncrementalDedup).
    */
  private[graft] val Registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    Seq(
      kernel("graft_dot", classOf[DotProduct])(e => DotProduct(e(0), e(1))),
      kernel("graft_l2", classOf[L2Dist2])(e => L2Dist2(e(0), e(1))),
      kernel("graft_argmin_dist2", classOf[ArgMinDist2])(e => ArgMinDist2(e(0), e(1))),
      kernel("graft_sorted_inter", classOf[SortedInterCount])(e => SortedInterCount(e(0), e(1))),
      kernel("graft_knn", classOf[KnnDist])(e => KnnDist(e)),
      kernel("graft_bloom_agg", classOf[BloomFilterAggregate])(
        e => new BloomFilterAggregate(e(0), e(1), e(2))),
      kernel("graft_might_contain", classOf[BloomFilterMightContain])(
        e => BloomFilterMightContain(e(0), e(1))))
  }

  /** Idempotent per-session registration; use `expr("graft_dot(a, b)")`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // Idempotent PER NAME (not via a single marker function): every
    // operator that uses a graft_* kernel calls register() defensively,
    // and blind re-registration logs a WARN ("replaced a previously
    // registered function") per function per call — hundreds of lines
    // burying real warnings in the bench / verify log tails. Probing
    // each name individually means a session where one name already
    // exists (user-registered, or set drift across versions) still gets
    // every MISSING kernel registered instead of silently none.
    Registrations.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }
}
