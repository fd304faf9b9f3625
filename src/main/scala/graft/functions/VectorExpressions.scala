package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Cosine similarity between two float-vector columns, as a native Catalyst
  * expression with full codegen — the hot inner loop of brute-force KNN and
  * embedding near-dup detection. A Scala UDF here would box two arrays per
  * row; this implementation reads the unsafe array data directly and stays
  * inside whole-stage codegen, which is what makes the O(n*m) candidate
  * scoring loop viable at scale.
  *
  * Accumulates in double (stable regardless of vector order), returns
  * dot(a,b) / (||a||*||b||); 0.0 when either norm is zero. Null if either
  * input or any element is null-free arrays are assumed (embedding columns).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($nx) * Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Dot product of two float vectors (double accumulation) — building block
  * for IVF-style ANN where norms are precomputed once per side. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** 64-bit SimHash over an array of 64-bit token hashes (e.g. produced by
  * the builtin xxhash64): per-bit majority vote. Used for near-duplicate
  * document detection; hamming distance between simhashes approximates
  * token-multiset similarity. Runs once per document in an aggregation
  * pipeline (not a per-pair hot loop), with codegen anyway since the loop
  * is trivial to emit.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < xs.numElements()) {
      val h = xs.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $x.numElements(); $i++) {
         |  long $h = $x.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $out |= (1L << $b);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Exact top-k nearest cells of a broadcast index for one vector — the
  * fused form of `slice(array_sort(transform(idx, c -> (cosine_sim(v,
  * c.cv), c.cell)), <sim desc, cell asc>), 1, k)`. That expression
  * chain evaluates an interpreted lambda per index entry plus an
  * interpreted comparator per sort comparison, with argument-conversion
  * overhead on each call; this kernel is one JVM loop per row — the
  * per-corpus-row assignment path of every IVF/SemDeDup/PQ consumer,
  * i.e. the hottest scalar at 100 TB.
  *
  * Semantics are pinned to the expression chain it replaces, bit for
  * bit: the similarity is [[CosineSimilarity]]'s exact arithmetic
  * (double accumulation in index order, 0.0 on a zero norm), ordering
  * is (csim DESC, cell ASC) with NaN ranked GREATEST similarity (as
  * DuckDB's ORDER BY sim DESC) and -0.0 == 0.0
  * (Spark's SQL double ordering; sims are normalized so the tie falls
  * through to the cell like the `>`-based comparator did). Input
  * element layout: STRUCT(cell BIGINT, cv ARRAY<FLOAT>); output:
  * ARRAY<STRUCT(csim DOUBLE, cell BIGINT)> of min(k, |idx|) entries.
  * Eval-only (CodegenFallback) — the win is removing per-element lambda
  * machinery, not codegen of the outer loop.
  */
case class TopCells(vec: Expression, idx: Expression, k: Expression)
    extends TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def first: Expression = vec
  override def second: Expression = idx
  override def third: Expression = k

  // the eval path reads the index struct POSITIONALLY with hard-coded
  // physical types (getLong(0) / getArray(1)); registration casts the
  // vec/k arguments but cannot cast a nested struct — so reject any
  // other layout at ANALYSIS time instead of misreading UnsafeRows at
  // runtime (r18, ADVICE)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{IntegerType, StructType}
    (vec.dataType, idx.dataType, k.dataType) match {
      case (ArrayType(FloatType, _),
            ArrayType(StructType(fs), _), IntegerType)
          if fs.length == 2 && fs(0).dataType == LongType &&
            (fs(1).dataType match {
              case ArrayType(FloatType, _) => true
              case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: expects (ARRAY<FLOAT>, " +
          "ARRAY<STRUCT<BIGINT, ARRAY<FLOAT>>>, INT); got (" +
          s"${vec.dataType.simpleString}, ${idx.dataType.simpleString}, " +
          s"${k.dataType.simpleString})")
    }
  }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("csim", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("cell", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "top_cells"

  override def nullSafeEval(v: Any, ix: Any, kk: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val cells = ix.asInstanceOf[ArrayData]
    val k = kk.asInstanceOf[Int]
    val n = cells.numElements()
    val keep = math.max(0, math.min(k, n))
    // query norm hoisted for the common equal-dims case; recomputed per
    // pair when the candidate is SHORTER, because CosineSimilarity
    // accumulates all three sums over min(|x|, |y|) in one loop and the
    // fused form must be arithmetic-identical
    val d = x.numElements()
    var nxFull = 0.0
    var i = 0
    while (i < d) { val xi = x.getFloat(i).toDouble; nxFull += xi * xi; i += 1 }
    val topSim = new Array[Double](keep)
    val topCell = new Array[Long](keep)
    var filled = 0
    // before(l, r): the pinned total order — NaN greatest sim first,
    // then sim desc, then cell asc
    def before(ls: Double, lc: Long, rs: Double, rc: Long): Boolean = {
      val ln = java.lang.Double.isNaN(ls); val rn = java.lang.Double.isNaN(rs)
      if (ln != rn) ln
      else if (ls != rs && !ln) ls > rs
      else lc < rc
    }
    i = 0
    while (i < n) {
      val row = cells.getStruct(i, 2)
      val cell = row.getLong(0)
      val cv = row.getArray(1)
      val m = math.min(d, cv.numElements())
      var dot = 0.0; var ny = 0.0
      var nx = nxFull
      var j = 0
      while (j < m) {
        val yj = cv.getFloat(j).toDouble
        dot += x.getFloat(j).toDouble * yj; ny += yj * yj
        j += 1
      }
      if (m < d) { // shorter candidate: re-bound the query norm at m
        nx = 0.0; j = 0
        while (j < m) { val xj = x.getFloat(j).toDouble; nx += xj * xj; j += 1 }
      }
      var sim = if (nx == 0.0 || ny == 0.0) 0.0
                else dot / (math.sqrt(nx) * math.sqrt(ny))
      if (sim == 0.0) sim = 0.0 // normalize -0.0 (SQL double ordering)
      if (keep > 0) {
        if (filled < keep || before(sim, cell, topSim(filled - 1), topCell(filled - 1))) {
          var pos = if (filled < keep) filled else keep - 1
          while (pos > 0 && before(sim, cell, topSim(pos - 1), topCell(pos - 1))) {
            topSim(pos) = topSim(pos - 1); topCell(pos) = topCell(pos - 1)
            pos -= 1
          }
          topSim(pos) = sim; topCell(pos) = cell
          if (filled < keep) filled += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](filled)
    i = 0
    while (i < filled) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(topSim(i), topCell(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression) = copy(vec = f, idx = s, k = t)
}

/** Nearest PQ sub-centroid for one (subvector, subspace): the fused
  * form of `array_min(transform(filter(pidx, c -> c.sub = sub), c ->
  * (l2(sv, c.cv), c.cell)))` with squared L2 as three dot products —
  * three separate double accumulations in index order combined as
  * ((daa - (2*dab)) + dbb) — and (d ASC, cell ASC) ordering with NaN
  * ranked GREATEST (as DuckDB's ORDER BY d ASC). NULL when no entry
  * matches the subspace (the empty-filter NULL the old form produced).
  * Input element layout: STRUCT(sub INT, cell BIGINT, cv ARRAY<FLOAT>);
  * output: STRUCT(d DOUBLE, cell BIGINT). Eval-only (CodegenFallback).
  */
case class NearestSubCell(sv: Expression, pidx: Expression, sub: Expression)
    extends TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def first: Expression = sv
  override def second: Expression = pidx
  override def third: Expression = sub

  // same analysis-time layout guard as TopCells (r18, ADVICE): the eval
  // path reads (sub INT, cell BIGINT, cv ARRAY<FLOAT>) positionally
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.{IntegerType, StructType}
    (sv.dataType, pidx.dataType, sub.dataType) match {
      case (ArrayType(FloatType, _),
            ArrayType(StructType(fs), _), IntegerType)
          if fs.length == 3 && fs(0).dataType == IntegerType &&
            fs(1).dataType == LongType &&
            (fs(2).dataType match {
              case ArrayType(FloatType, _) => true
              case _ => false
            }) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: expects (ARRAY<FLOAT>, " +
          "ARRAY<STRUCT<INT, BIGINT, ARRAY<FLOAT>>>, INT); got (" +
          s"${sv.dataType.simpleString}, ${pidx.dataType.simpleString}, " +
          s"${sub.dataType.simpleString})")
    }
  }

  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d", DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("cell", LongType, nullable = false)))
  // an empty subspace yields NULL even when every input is non-nullable
  // (the empty-filter NULL of the chain this replaces) — without this
  // override, consumers with non-nullable inputs would codegen without a
  // null check and NPE (caught by AnnKernelsSpec, r18)
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_sub_cell"

  override def nullSafeEval(v: Any, ix: Any, s: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val entries = ix.asInstanceOf[ArrayData]
    val wantSub = s.asInstanceOf[Int]
    val d = x.numElements()
    var bestD = 0.0; var bestCell = 0L; var found = false
    def before(ld: Double, lc: Long, rd: Double, rc: Long): Boolean = {
      val ln = java.lang.Double.isNaN(ld); val rn = java.lang.Double.isNaN(rd)
      if (ln != rn) rn // NaN is the GREATEST distance: non-NaN first
      else if (ld != rd && !ln) ld < rd
      else lc < rc
    }
    var i = 0
    val n = entries.numElements()
    while (i < n) {
      val row = entries.getStruct(i, 3)
      if (row.getInt(0) == wantSub) {
        val cell = row.getLong(1)
        val cv = row.getArray(2)
        // the L2 composes three dot_products with DIFFERENT bounds:
        // dot(a,a) over full |a|, dot(b,b) over full |b|, dot(a,b) over
        // min — mirror each accumulation exactly
        val e = cv.numElements()
        val m = math.min(d, e)
        var daa = 0.0; var dab = 0.0; var dbb = 0.0
        var j = 0
        while (j < d) { val xj = x.getFloat(j).toDouble; daa += xj * xj; j += 1 }
        j = 0
        while (j < e) { val yj = cv.getFloat(j).toDouble; dbb += yj * yj; j += 1 }
        j = 0
        while (j < m) {
          dab += x.getFloat(j).toDouble * cv.getFloat(j).toDouble
          j += 1
        }
        var dist = (daa - (2.0 * dab)) + dbb
        if (dist == 0.0) dist = 0.0 // normalize -0.0
        if (!found || before(dist, cell, bestD, bestCell)) {
          bestD = dist; bestCell = cell; found = true
        }
      }
      i += 1
    }
    if (!found) null
    else org.apache.spark.sql.catalyst.InternalRow(bestD, bestCell)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression) = copy(sv = f, pidx = s, sub = t)
}
