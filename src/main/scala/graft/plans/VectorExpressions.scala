package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/** Native Catalyst dot product over float vectors (SURVEY.md §2.11 /
  * builder-prompt custom-operator preference (b): a codegen'd Expression
  * beats a Scala UDF beats an interpreted higher-order function).
  *
  * Semantics: EXACTLY the `aggregate(zip_with(a, b, (x,y) -> double(x) *
  * double(y)), 0.0d, (acc,v) -> acc + v)` chain it replaces, for every
  * input, not just the fixtures:
  *  - equal-length, null-free arrays: sequential left fold
  *    `0.0 + a(0)*b(0) + …` with float→double widening per element —
  *    bit-identical to the HOF formulation in [[graft.llm.Similarity]] and
  *    the DuckDB list_reduce oracle;
  *  - unequal lengths: NULL (zip_with pads the shorter side with nulls, the
  *    null product poisons the whole fold);
  *  - a null element anywhere: NULL (same poisoning).
  * The bit-identity tests pin it against [[graft.llm.Similarity]]'s
  * `dotHof`. The null-element scan is only emitted when the input type says
  * containsNull — null-free schemas keep the pure primitive loop.
  *
  * At 100 TB this is the kernel of every similarity scan — whole-stage
  * codegen emits the loop inline in the join stage, no lambda interpreter,
  * no per-element boxing.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullable: Boolean = true

  private def mayHaveNullElements: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null // zip_with null-padding poisons the fold
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (mayHaveNullElements && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // emit the per-element null scan only when the schema allows nulls
      val nullScan =
        if (mayHaveNullElements)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullScan
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Blocked exact kNN candidate kernel (§2.11 scale path for EXACT kNN;
  * custom-operator preference (b): a native Expression where the HOF
  * spelling would interpret a lambda per vector pair).
  *
  * Inputs: two blocks of a vector corpus, each an
  * `array<struct<vec_id: long, embedding: array<float>, nrm: double>>`
  * (the shape `collect_list(struct(vec_id, embedding, nrm))` produces),
  * and a foldable int k. Output: for every query vector q in `qmem`, the
  * exact top-k candidates from `cmem` by cosine (score desc, id asc on
  * ties; self excluded; zero-norm pairs score -1 — below every real
  * cosine — instead of NaN), flattened to `array<struct<src, dst, score>>`.
  * The score is the same sequential-fold cosine as [[DotProduct]] (bit-equal
  * to the declarative spelling), so a consumer that needs the block-local
  * score — e.g. [[graft.llm.AnnQuantized]]'s global shortlist merge — reads
  * it off the struct instead of re-joining the vectors to recompute it.
  *
  * Semantics match the declarative spelling
  * `flatten(transform(qmem, q -> transform(slice(array_sort(transform(
  *   filter(cmem, c -> c.vec_id != q.vec_id), c -> struct(-cos AS negs,
  *   c.vec_id AS dst))), 1, k), t -> struct(q.vec_id, t.dst))))`
  * with the same sequential-fold dot arithmetic as [[DotProduct]]. The
  * expression exists because higher-order functions evaluate their lambda
  * through the Catalyst interpreter per element — per vector PAIR here —
  * while this eval is one JVM loop nest. CodegenFallback is fine: only B²
  * block-pair rows (not n² vector pairs) ever reach it.
  */
case class KnnBlockCandidates(qmem: Expression, cmem: Expression, kExpr: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

  override def first: Expression = qmem
  override def second: Expression = cmem
  override def third: Expression = kExpr
  override def prettyName: String = VectorFunctions.knnBlockName

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("src", LongType, nullable = false),
                   StructField("dst", LongType, nullable = false),
                   StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  private def isBlock(t: DataType): Boolean = t match {
    case ArrayType(StructType(fs), _) if fs.length == 3 =>
      fs(0).dataType == org.apache.spark.sql.types.LongType &&
        (fs(1).dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }) &&
        fs(2).dataType == DoubleType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isBlock(qmem.dataType) && isBlock(cmem.dataType) &&
        kExpr.dataType == IntegerType && kExpr.foldable) {
      // k is foldable, so a non-positive k can be rejected at analysis time
      // instead of surfacing as a NegativeArraySizeException (k < 0) or a
      // silently-empty result (k == 0) at eval time.
      // eval() of a foldable expression can itself throw (e.g. an ANSI-mode
      // cast overflow); surface that as a typed analysis failure, not a raw
      // exception out of the analyzer (round-7 advice)
      (try Right(kExpr.eval()) catch {
        case scala.util.control.NonFatal(e) => Left(e)
      }) match {
        case Left(e) => TypeCheckResult.TypeCheckFailure(
          // e.toString, not getMessage: NPE-style exceptions have a null
          // message, which would render the failure text as "... : null"
          s"$prettyName: k failed to evaluate at analysis time: $e")
        case Right(null) =>
          TypeCheckResult.TypeCheckFailure(s"$prettyName: k must not be null")
        case Right(k: Int) if k < 1 =>
          TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be >= 1, got $k")
        case Right(_) => TypeCheckResult.TypeCheckSuccess
      }
    } else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<struct<long, array<float>, double>> x2, " +
        s"foldable int), got (${qmem.dataType.simpleString}, " +
        s"${cmem.dataType.simpleString}, ${kExpr.dataType.simpleString})")

  /** Null-element scan, once per vector per block pair (a vector holding a
    * null element dots to null in the declarative spelling — treat it like
    * a zero-norm vector: every pair scores the -1 sentinel, never NaN, and
    * the kernel must not crash on it). */
  private def unpackOrNull(arr: ArrayData): Array[Float] = {
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      if (arr.isNullAt(t)) return null
      t += 1
    }
    arr.toFloatArray()
  }

  override protected def nullSafeEval(q: Any, c: Any, kAny: Any): Any = {
    val k = kAny.asInstanceOf[Int]
    val qs = q.asInstanceOf[ArrayData]
    val cs = c.asInstanceOf[ArrayData]
    val nc = cs.numElements()
    // unpack the candidate block once per block pair, not once per query
    val cid = new Array[Long](nc)
    val cvec = new Array[Array[Float]](nc)
    val cn = new Array[Double](nc)
    var j = 0
    while (j < nc) {
      val r = cs.getStruct(j, 3)
      cid(j) = r.getLong(0)
      cvec(j) = unpackOrNull(r.getArray(1))
      cn(j) = r.getDouble(2)
      j += 1
    }
    val nq = qs.numElements()
    val out = new Array[Any](nq * k)
    var outLen = 0
    val ts = new Array[Double](k)
    val td = new Array[Long](k)
    var i = 0
    while (i < nq) {
      val r = qs.getStruct(i, 3)
      val qid = r.getLong(0)
      val qv = unpackOrNull(r.getArray(1))
      val qn = r.getDouble(2)
      var filled = 0
      j = 0
      while (j < nc) {
        if (cid(j) != qid) {
          val denom = qn * cn(j)
          var s = -1.0
          val b = cvec(j)
          // null-element vector or length mismatch → dot is null in the
          // declarative spelling → -1 sentinel (same as zero norm)
          if (denom != 0.0 && qv != null && b != null && qv.length == b.length) {
            var acc = 0.0
            var t = 0
            while (t < qv.length) { acc += qv(t).toDouble * b(t).toDouble; t += 1 }
            s = acc / denom
          }
          val dstId = cid(j)
          // ordered insert: score desc, then dst asc
          var p = filled
          while (p > 0 && (s > ts(p - 1) ||
                           (s == ts(p - 1) && dstId < td(p - 1)))) p -= 1
          if (p < k) {
            var m = math.min(filled, k - 1)
            while (m > p) { ts(m) = ts(m - 1); td(m) = td(m - 1); m -= 1 }
            ts(p) = s
            td(p) = dstId
            if (filled < k) filled += 1
          }
        }
        j += 1
      }
      var m = 0
      while (m < filled) {
        out(outLen) = InternalRow(qid, td(m), ts(m))
        outLen += 1
        m += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (outLen == out.length) out
      else java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], outLen)
        .asInstanceOf[Array[Any]])
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): KnnBlockCandidates =
    copy(qmem = f, cmem = s, kExpr = t)
}

/** Blocked cosine-threshold pair kernel (§2.11 scale path for EXACT
  * similarity self-joins — threshold semantics, where
  * [[KnnBlockCandidates]] covers top-k semantics).
  *
  * Inputs: two blocks of a vector corpus in the same
  * `array<struct<vec_id: long, embedding: array<float>, nrm: double>>`
  * shape, and a foldable double tau. Output: every cross pair (a from
  * `amem`, b from `bmem`) with `a.vec_id < b.vec_id` and
  * `cos(a, b) >= tau`, as `array<struct<a_id, b_id, score>>` — the id
  * ordering both dedupes unordered pairs across the B×B block-pair cross
  * join (each pair is emitted by exactly one ordered block pair) and
  * matches the `a_id < b_id` theta-join spelling it replaces. Degenerate
  * inputs reproduce the theta spelling's null-poisoning EXACTLY, not just
  * on the fixtures: zero-norm pairs are skipped (NaN >= tau = false),
  * length-mismatched pairs are skipped (graft_dot returns null there, and
  * null >= tau excludes the pair), and a vector containing a null element
  * is skipped entirely (every dot involving it is null in the declared
  * spelling, so every one of its pairs is excluded).
  *
  * Scale: an exact threshold self-join is O(n²) COMPUTE by definition;
  * the kernel keeps the O(n²) ROWS out of the join machinery — only B²
  * bounded block-pair rows and the qualifying output pairs exist as rows.
  * Arithmetic is the same sequential double fold as [[DotProduct]], so
  * scores are bit-identical to the naive spelling and the DuckDB oracle.
  * CodegenFallback is fine: B² rows reach it, not n² pairs.
  */
case class CosineThresholdPairs(amem: Expression, bmem: Expression, tauExpr: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def first: Expression = amem
  override def second: Expression = bmem
  override def third: Expression = tauExpr
  override def prettyName: String = VectorFunctions.cosThreshName

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a_id", LongType, nullable = false),
                   StructField("b_id", LongType, nullable = false),
                   StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  private def isBlock(t: DataType): Boolean = t match {
    case ArrayType(StructType(fs), _) if fs.length == 3 =>
      fs(0).dataType == LongType &&
        (fs(1).dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }) &&
        fs(2).dataType == DoubleType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isBlock(amem.dataType) && isBlock(bmem.dataType) &&
        tauExpr.dataType == DoubleType && tauExpr.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<struct<long, array<float>, double>> x2, " +
        s"foldable double), got (${amem.dataType.simpleString}, " +
        s"${bmem.dataType.simpleString}, ${tauExpr.dataType.simpleString})")

  /** Unpacked vector (null when the member must be skipped — null element
    * anywhere, per the null-poisoning contract in the class doc). The null
    * scan runs once per vector per block pair, never per pair. */
  private def unpack(arr: ArrayData): Option[Array[Float]] = {
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      if (arr.isNullAt(t)) return None
      t += 1
    }
    Some(arr.toFloatArray())
  }

  override protected def nullSafeEval(a: Any, b: Any, tauAny: Any): Any = {
    val tau = tauAny.asInstanceOf[Double]
    val as = a.asInstanceOf[ArrayData]
    val bs = b.asInstanceOf[ArrayData]
    val nb = bs.numElements()
    // unpack the b block once per block pair, not once per a vector
    val bid = new Array[Long](nb)
    val bvec = new Array[Array[Float]](nb)
    val bn = new Array[Double](nb)
    var j = 0
    while (j < nb) {
      val r = bs.getStruct(j, 3)
      bid(j) = r.getLong(0)
      bvec(j) = unpack(r.getArray(1)).orNull
      bn(j) = r.getDouble(2)
      j += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val na = as.numElements()
    var i = 0
    while (i < na) {
      val r = as.getStruct(i, 3)
      val aid = r.getLong(0)
      val av = unpack(r.getArray(1)).orNull
      val an = r.getDouble(2)
      if (av != null) {
        j = 0
        while (j < nb) {
          // id check first: the reverse-ordered block pair re-visits every
          // unordered pair, and this rejects it before paying for the dot
          if (aid < bid(j)) {
            val bv = bvec(j)
            val denom = an * bn(j)
            // bv null (null element) or length mismatch → the declared
            // spelling's dot is null and the pair is excluded; denom 0 →
            // NaN >= tau = false, same exclusion
            if (bv != null && bv.length == av.length && denom != 0.0) {
              var acc = 0.0
              var t = 0
              while (t < av.length) { acc += av(t).toDouble * bv(t).toDouble; t += 1 }
              val s = acc / denom
              if (s >= tau) out += InternalRow(aid, bid(j), s)
            }
          }
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CosineThresholdPairs =
    copy(amem = f, bmem = s, tauExpr = t)
}

object VectorFunctions {
  val dotName = "graft_dot"
  val knnBlockName = "graft_knn_block_cands"
  val cosThreshName = "graft_cos_thresh_pairs"

  private val dotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProduct(a, b)
    case other => throw new IllegalArgumentException(
      s"$dotName expects 2 arguments, got ${other.size}")
  }

  private val dotInfo = new ExpressionInfo(
    classOf[DotProduct].getName, null, dotName,
    "_FUNC_(a, b) - dot product of two float vectors in double precision", "")

  private val knnBlockBuilder: Seq[Expression] => Expression = {
    case Seq(q, c, k) => KnnBlockCandidates(q, c, k)
    case other => throw new IllegalArgumentException(
      s"$knnBlockName expects 3 arguments, got ${other.size}")
  }

  private val knnBlockInfo = new ExpressionInfo(
    classOf[KnnBlockCandidates].getName, null, knnBlockName,
    "_FUNC_(qblock, cblock, k) - exact per-query top-k (id, score) " +
      "candidates between two vector blocks", "")

  private val cosThreshBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, t) => CosineThresholdPairs(a, b, t)
    case other => throw new IllegalArgumentException(
      s"$cosThreshName expects 3 arguments, got ${other.size}")
  }

  private val cosThreshInfo = new ExpressionInfo(
    classOf[CosineThresholdPairs].getName, null, cosThreshName,
    "_FUNC_(ablock, bblock, tau) - ordered (a_id < b_id) cross pairs of " +
      "two vector blocks with cosine >= tau", "")

  /** Idempotent session-level registration; every operator that calls a
    * kernel calls this first, so the kernels work in any session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(dotName)
    if (!reg.functionExists(id)) reg.registerFunction(id, dotInfo, dotBuilder)
    val kid = FunctionIdentifier(knnBlockName)
    if (!reg.functionExists(kid))
      reg.registerFunction(kid, knnBlockInfo, knnBlockBuilder)
    val cid = FunctionIdentifier(cosThreshName)
    if (!reg.functionExists(cid))
      reg.registerFunction(cid, cosThreshInfo, cosThreshBuilder)
  }

  /** Column-API handle; requires [[register]] first. */
  def dot(a: Column, b: Column): Column = call_function(dotName, a, b)

  /** Column-API handle for the blocked kNN candidate kernel. */
  def knnBlockCands(q: Column, c: Column, k: Column): Column =
    call_function(knnBlockName, q, c, k)

  /** Column-API handle for the blocked threshold-pair kernel. */
  def cosThreshPairs(a: Column, b: Column, tau: Column): Column =
    call_function(cosThreshName, a, b, tau)
}
