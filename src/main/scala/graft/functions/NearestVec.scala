package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: the argbest candidate id for a vector
  * against a (broadcast) candidate array — `nearest_cos(v, cands)` /
  * `nearest_l2(v, cands)` with `cands: array<struct<id, vec>>`. Turns
  * the k-means/PQ ASSIGN step from a per-(row × candidate) fan-out
  * (cross join + corpus-keyed groupBy argmax — a corpus-sized shuffle
  * per Lloyd iteration, with the raw vectors riding the exchange) into
  * a pure per-row projection: the candidate table collapses to ONE
  * array row (k·dims doubles, broadcast like any dimension) and the
  * scan emits the winning id directly.
  *
  * Semantics are BIT-CONTRACTED to the aggregate spellings they retire
  * (NearestVecSpec pins the A/B):
  *
  *  - `nearest_cos` ≡ `max(struct(cosine_sim(v, cand.vec), -cand.id))`
  *    — the [[graft.ops.Similarity.ivfCentroids]] argmax: highest
  *    cosine wins, exact ties (Spark double ordering: `x == y` first,
  *    then `java.lang.Double.compare` — so -0.0 ties 0.0 and NaN ranks
  *    above everything) break to the SMALLEST id; a null cosine (null
  *    candidate vector) ranks below every non-null (struct ordering,
  *    nulls first under max); all-null picks the smallest id. The
  *    cosine loop is [[CosineSimilarity]]'s verbatim: common prefix,
  *    left-to-right, null elements read as stored (dense contract).
  *  - `nearest_l2` ≡ `min(struct(l2_sq(v, cand.vec), cand.id))` — the
  *    [[graft.ops.Similarity.pqCodebooks]] argmin: smallest squared L2
  *    wins, ties to the smallest id; a NULL distance ([[L2Squared]]'s
  *    null-element contract) ranks SMALLEST (struct ordering, nulls
  *    first under min) and so wins — mirrored, not sanitized.
  *
  * Returns the id in the candidate struct's own type (int or long);
  * NULL if either input or the candidate list is NULL or empty.
  */
case class NearestVec(left: Expression, right: Expression,
                      metric: String) extends BinaryExpression {

  private def vecElem(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  private def candFields: Option[(DataType, DataType, Boolean)] =
    right.dataType match {
      case ArrayType(StructType(Array(idF, vecF)), _)
          if (idF.dataType == IntegerType || idF.dataType == LongType) &&
            vecElem(vecF.dataType).isDefined =>
        Some((idF.dataType, vecElem(vecF.dataType).get,
          vecF.nullable || vecF.dataType.asInstanceOf[ArrayType].containsNull))
      case _ => None
    }

  // The input types, resolved once per expression rather than per row
  // (only valid after checkInputDataTypes has passed).
  @transient private lazy val idT: DataType = candFields.get._1
  @transient private lazy val vecT: DataType = candFields.get._2
  @transient private lazy val mayNullElem: Boolean = candFields.get._3
  @transient private lazy val lt: DataType = vecElem(left.dataType).get
  @transient private lazy val checkL: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull

  override def checkInputDataTypes(): TypeCheckResult =
    if (vecElem(left.dataType).isDefined && candFields.isDefined)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double>, " +
          s"array<struct<int|bigint, array<float|double>>>), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = idT

  override def nullable: Boolean = true

  override def prettyName: String =
    if (metric == "cos") "nearest_cos" else "nearest_l2"

  private def get(a: ArrayData, elem: DataType, i: Int): Double =
    elem match {
      case FloatType => a.getFloat(i).toDouble
      case _ => a.getDouble(i)
    }

  // Spark's SQL double ordering: equality first (-0.0 == 0.0), then
  // java.lang.Double.compare (NaN greater than everything)
  private def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  override protected def nullSafeEval(v: Any, cands: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val arr = cands.asInstanceOf[ArrayData]
    val nc = arr.numElements()
    if (nc == 0) return null
    var bestSet = false
    var bestNull = true
    var bestVal = 0.0
    var bestId = 0L
    var c = 0
    while (c < nc) {
      val s = arr.getStruct(c, 2)
      val id = if (idT == IntegerType) s.getInt(0).toLong else s.getLong(0)
      var mNull = s.isNullAt(1)
      var m = 0.0
      if (!mNull) {
        val y = s.getArray(1)
        val n = math.min(x.numElements(), y.numElements())
        if (metric == "cos") {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < n) {
            val xi = get(x, lt, i); val yi = get(y, vecT, i)
            dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
          }
          m = dot / (math.sqrt(na) * math.sqrt(nb))
        } else {
          var acc = 0.0; var i = 0
          var broke = false
          while (i < n && !broke) {
            if ((checkL && x.isNullAt(i)) || (mayNullElem && y.isNullAt(i))) {
              mNull = true; broke = true
            } else {
              val d = get(x, lt, i) - get(y, vecT, i)
              acc += d * d; i += 1
            }
          }
          m = acc
        }
      }
      val better =
        if (!bestSet) true
        else if (metric == "cos") {
          if (mNull) bestNull && id < bestId
          else if (bestNull) true
          else {
            val cp = cmpD(m, bestVal)
            cp > 0 || (cp == 0 && id < bestId)
          }
        } else {
          if (mNull) !bestNull || id < bestId
          else if (bestNull) false
          else {
            val cp = cmpD(m, bestVal)
            cp < 0 || (cp == 0 && id < bestId)
          }
        }
      if (better) { bestSet = true; bestNull = mNull; bestVal = m; bestId = id }
      c += 1
    }
    if (idT == IntegerType) bestId.toInt else bestId
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, arr) => {
      def read(a: String, dt: DataType, i: String): String = dt match {
        case FloatType => s"(double) $a.getFloat($i)"
        case _ => s"$a.getDouble($i)"
      }
      val nc = ctx.freshName("nc")
      val c = ctx.freshName("c")
      val s = ctx.freshName("s")
      val id = ctx.freshName("id")
      val mNull = ctx.freshName("mNull")
      val m = ctx.freshName("m")
      val y = ctx.freshName("y")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val bestSet = ctx.freshName("bestSet")
      val bestNull = ctx.freshName("bestNull")
      val bestVal = ctx.freshName("bestVal")
      val bestId = ctx.freshName("bestId")
      val cp = ctx.freshName("cp")
      val better = ctx.freshName("better")
      val getId =
        if (idT == IntegerType) s"(long) $s.getInt(0)" else s"$s.getLong(0)"
      val metricBody = if (metric == "cos") {
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
        s"""
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xi = ${read(x, lt, i)};
           |  double $yi = ${read(y, vecT, i)};
           |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
           |}
           |$m = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      } else {
        val nullChecks = Seq(
          if (checkL) Some(s"$x.isNullAt($i)") else None,
          if (mayNullElem) Some(s"$y.isNullAt($i)") else None).flatten
        val guard =
          if (nullChecks.isEmpty) ""
          else s"""if (${nullChecks.mkString(" || ")}) {
             |    $mNull = true; break;
             |  }
             |  """.stripMargin
        val d = ctx.freshName("d")
        val acc = ctx.freshName("acc")
        s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${guard}double $d = ${read(x, lt, i)} - ${read(y, vecT, i)};
           |  $acc += $d * $d;
           |}
           |$m = $acc;
         """.stripMargin
      }
      val betterBody = if (metric == "cos") {
        s"""
           |boolean $better;
           |if (!$bestSet) { $better = true; }
           |else if ($mNull) { $better = $bestNull && $id < $bestId; }
           |else if ($bestNull) { $better = true; }
           |else {
           |  int $cp = ($m == $bestVal) ? 0
           |    : java.lang.Double.compare($m, $bestVal);
           |  $better = $cp > 0 || ($cp == 0 && $id < $bestId);
           |}
         """.stripMargin
      } else {
        s"""
           |boolean $better;
           |if (!$bestSet) { $better = true; }
           |else if ($mNull) { $better = !$bestNull || $id < $bestId; }
           |else if ($bestNull) { $better = false; }
           |else {
           |  int $cp = ($m == $bestVal) ? 0
           |    : java.lang.Double.compare($m, $bestVal);
           |  $better = $cp < 0 || ($cp == 0 && $id < $bestId);
           |}
         """.stripMargin
      }
      val result =
        if (idT == IntegerType) s"(int) $bestId" else bestId
      s"""
         |int $nc = $arr.numElements();
         |if ($nc == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  boolean $bestSet = false; boolean $bestNull = true;
         |  double $bestVal = 0.0; long $bestId = 0L;
         |  for (int $c = 0; $c < $nc; $c++) {
         |    org.apache.spark.sql.catalyst.InternalRow $s =
         |      $arr.getStruct($c, 2);
         |    long $id = $getId;
         |    boolean $mNull = $s.isNullAt(1);
         |    double $m = 0.0;
         |    if (!$mNull) {
         |      org.apache.spark.sql.catalyst.util.ArrayData $y =
         |        $s.getArray(1);
         |      int $n = java.lang.Math.min($x.numElements(),
         |        $y.numElements());
         |      $metricBody
         |    }
         |    $betterBody
         |    if ($better) {
         |      $bestSet = true; $bestNull = $mNull;
         |      $bestVal = $m; $bestId = $id;
         |    }
         |  }
         |  ${ev.value} = $result;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestVec =
    copy(left = newLeft, right = newRight)
}
