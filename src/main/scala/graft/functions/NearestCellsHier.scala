package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Two-level (hierarchical) IVF coarse assignment — the scale path for
  * [[NearestCells]] when the centroid table itself grows past what a flat
  * per-row scan should pay.
  *
  * The flat scan is O(k·dim) per row. With constant per-cell population m
  * (the setting that keeps within-cell pair generation linear in n for the
  * blocked near-dup join), k = n/m grows linearly, so the flat assignment
  * becomes O(n²·dim/m) — the cliff any fixed-modulus centroid sizing
  * hits. Here the centroids are pre-partitioned (driver-side) into ~sqrt(k)
  * super-cells, each holding the centroids whose nearest super-centroid it
  * is; a row first scans the sqrt(k) super-centroids, picks the best one
  * (signed-cos² DESC, group index ASC), then scans only that group's
  * members with the same top-`nprobe` insertion as the flat expression.
  * Per-row work drops to O(2·sqrt(k)·dim); the standard recall trade of a
  * hierarchical coarse quantizer (the true nearest centroid can live in a
  * non-chosen super-cell) is accepted exactly like the cell-boundary trade
  * IVF itself makes. Engaged only past
  * [[graft.similarity.Similarity]]'s hier threshold — never at the
  * oracle-gated scale factors, whose assignments stay byte-identical to
  * the flat expression.
  *
  * Arithmetic and failure contracts are [[NearestCells]]'s: exact BIGINT
  * dots over the quantized lattice, one double division per key, dimension
  * mismatch and null elements THROW, null vector/norm yields NULL.
  */
case class NearestCellsHier(
    vec: Expression,
    nrm: Expression,
    groups: IndexedSeq[(IndexedSeq[Long], Long,
      IndexedSeq[(Long, IndexedSeq[Long], Long)])],
    nprobe: Int)
  extends BinaryExpression {

  require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
  require(groups.nonEmpty, "group table must not be empty")
  require(groups.forall(_._3.nonEmpty), "empty super-cell group")
  require(groups.forall(g => g._1.length == groups.head._1.length &&
      g._3.forall(_._2.length == groups.head._1.length)),
    "group table has mixed dimensions")

  override def left: Expression = vec
  override def right: Expression = nrm

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "nearest_cells_hier"

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, nrm.dataType) match {
      case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, bigint) — the quantized " +
          s"lattice vector and its exact squared norm; got " +
          s"${vec.dataType.catalogString} and ${nrm.dataType.catalogString}")
    }

  /** Flattened layout for the generated loops: super-centroid elements and
    * norms (level 1), then member rows in group order with a CSR-style
    * offset array (level 2).
    */
  @transient private lazy val dim: Int = groups.head._1.length
  @transient private lazy val sCeFlat: Array[Long] =
    groups.flatMap(_._1).toArray
  @transient private lazy val sNrmArr: Array[Long] = groups.map(_._2).toArray
  @transient private lazy val memberStart: Array[Int] =
    groups.scanLeft(0)(_ + _._3.length).toArray
  @transient private lazy val cidArr: Array[Long] =
    groups.flatMap(_._3.map(_._1)).toArray
  @transient private lazy val ceFlat: Array[Long] =
    groups.flatMap(_._3.flatMap(_._2)).toArray
  @transient private lazy val cnrmArr: Array[Long] =
    groups.flatMap(_._3.map(_._3)).toArray
  @transient private lazy val maxGroup: Int = groups.map(_._3.length).max

  override def nullSafeEval(vecAny: Any, nrmAny: Any): Any = {
    val x = vecAny.asInstanceOf[ArrayData]
    val xn = nrmAny.asInstanceOf[Long]
    val n = x.numElements()
    if (n != dim)
      throw new IllegalArgumentException(
        s"$prettyName: vector dimension $n != centroid dimension $dim")
    val k1 = sNrmArr.length
    // level 1: argmax super-centroid (key DESC, group index ASC on ties)
    var best = 0
    var bestKey = Double.NegativeInfinity
    var g = 0
    while (g < k1) {
      var dot = 0L
      val base = g * dim
      var j = 0
      while (j < n) {
        if (x.isNullAt(j))
          throw new IllegalArgumentException(
            s"$prettyName: null element at index $j")
        dot += x.getLong(j) * sCeFlat(base + j)
        j += 1
      }
      val akey = (dot * dot).toDouble / (xn * sNrmArr(g)).toDouble *
        (if (dot < 0) -1.0 else 1.0)
      if (akey > bestKey) { bestKey = akey; best = g }
      g += 1
    }
    // level 2: flat top-nprobe insertion over the chosen group's members
    val lo = memberStart(best)
    val hi = memberStart(best + 1)
    val take = math.min(nprobe, hi - lo)
    val bk = new Array[Double](take)
    val bc = new Array[Long](take)
    var filled = 0
    var c = lo
    while (c < hi) {
      var dot = 0L
      val base = c * dim
      var j = 0
      while (j < n) {
        dot += x.getLong(j) * ceFlat(base + j)
        j += 1
      }
      val akey = (dot * dot).toDouble / (xn * cnrmArr(c)).toDouble *
        (if (dot < 0) -1.0 else 1.0)
      val cid = cidArr(c)
      var pos = filled
      while (pos > 0 &&
          (bk(pos - 1) < akey || (bk(pos - 1) == akey && bc(pos - 1) > cid))) {
        pos -= 1
      }
      if (pos < take) {
        var m = math.min(filled, take - 1)
        while (m > pos) { bk(m) = bk(m - 1); bc(m) = bc(m - 1); m -= 1 }
        bk(pos) = akey
        bc(pos) = cid
        if (filled < take) filled += 1
      }
      c += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bc, filled))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, xn) => {
      val sCeRef = ctx.addReferenceObj("hierSuperCe", sCeFlat, "long[]")
      val sNrmRef = ctx.addReferenceObj("hierSuperNrm", sNrmArr, "long[]")
      val startRef = ctx.addReferenceObj("hierStart", memberStart, "int[]")
      val cidsRef = ctx.addReferenceObj("hierCids", cidArr, "long[]")
      val ceRef = ctx.addReferenceObj("hierCe", ceFlat, "long[]")
      val cnrmRef = ctx.addReferenceObj("hierCnrm", cnrmArr, "long[]")
      val n = ctx.freshName("n")
      // scratch sized for the largest group; `filled` restarts per row so
      // the hot loops allocate nothing
      val takeCap = math.min(nprobe, maxGroup)
      val bk = ctx.addMutableState("double[]", "hierBk",
        v => s"$v = new double[$takeCap];")
      val bc = ctx.addMutableState("long[]", "hierBc",
        v => s"$v = new long[$takeCap];")
      val best = ctx.freshName("best")
      val bestKey = ctx.freshName("bestKey")
      val filled = ctx.freshName("filled")
      val take = ctx.freshName("take")
      val g = ctx.freshName("g")
      val c = ctx.freshName("c")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val dot = ctx.freshName("dot")
      val base = ctx.freshName("base")
      val j = ctx.freshName("j")
      val akey = ctx.freshName("akey")
      val cid = ctx.freshName("cid")
      val pos = ctx.freshName("pos")
      val m = ctx.freshName("m")
      s"""
         |int $n = $x.numElements();
         |if ($n != $dim) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: vector dimension " + $n +
         |      " != centroid dimension $dim");
         |}
         |int $best = 0;
         |double $bestKey = Double.NEGATIVE_INFINITY;
         |for (int $g = 0; $g < ${sNrmArr.length}; $g++) {
         |  long $dot = 0L;
         |  int $base = $g * $dim;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if ($x.isNullAt($j)) {
         |      throw new IllegalArgumentException(
         |        "$prettyName: null element at index " + $j);
         |    }
         |    $dot += $x.getLong($j) * $sCeRef[$base + $j];
         |  }
         |  double $akey = ((double)($dot * $dot)) /
         |    ((double)($xn * $sNrmRef[$g])) * ($dot < 0L ? -1.0 : 1.0);
         |  if ($akey > $bestKey) { $bestKey = $akey; $best = $g; }
         |}
         |int $lo = $startRef[$best];
         |int $hi = $startRef[$best + 1];
         |int $take = java.lang.Math.min($nprobe, $hi - $lo);
         |int $filled = 0;
         |for (int $c = $lo; $c < $hi; $c++) {
         |  long $dot = 0L;
         |  int $base = $c * $dim;
         |  for (int $j = 0; $j < $n; $j++) {
         |    $dot += $x.getLong($j) * $ceRef[$base + $j];
         |  }
         |  double $akey = ((double)($dot * $dot)) /
         |    ((double)($xn * $cnrmRef[$c])) * ($dot < 0L ? -1.0 : 1.0);
         |  long $cid = $cidsRef[$c];
         |  int $pos = $filled;
         |  while ($pos > 0 && ($bk[$pos - 1] < $akey ||
         |      ($bk[$pos - 1] == $akey && $bc[$pos - 1] > $cid))) {
         |    $pos--;
         |  }
         |  if ($pos < $take) {
         |    for (int $m = java.lang.Math.min($filled, $take - 1); $m > $pos; $m--) {
         |      $bk[$m] = $bk[$m - 1];
         |      $bc[$m] = $bc[$m - 1];
         |    }
         |    $bk[$pos] = $akey;
         |    $bc[$pos] = $cid;
         |    if ($filled < $take) $filled++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($bc, $filled));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCellsHier =
    copy(vec = newLeft, nrm = newRight)
}
