package graft.functions

import org.apache.spark.sql.{Column, Encoders, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{HtmlExtract, Segmenter, TextSeg, Tokenizer}
import graft.pipeline.{ExtractedTurn, TurnExtractor}

/** The extraction kernel as a native Catalyst expression returning ONLY
  * primitive metrics — the fast path for count/metric jobs.
  *
  * [[ExtractTurn]] (below) is the payload form: it materializes the
  * extracted text, documents and spans of every turn, as a writer must.
  * For jobs that only need counts/lengths — the benchmark's throughput
  * job, data-quality scans, manifest metrics — those output strings and
  * nested structs are pure allocation traffic. This expression runs the
  * SAME kernel (tokenize -> segment -> metric fold) inside whole-stage
  * codegen and materializes no output strings at all: the extracted
  * text's char/byte lengths are folded directly off the segment builders'
  * cached segment strings, and the join separator ("\n", 1 char / 1 byte)
  * is counted arithmetically instead of concatenated
  * (Segmenter.extractedText semantics, verified by ExtractStatsSpec
  * parity tests).
  *
  * Semantics parity contract with [[TurnExtractor.extract]]:
  * n_paras/n_bytes equal the ExtractedTurn fields, n_chars equals
  * extractedText.length, n_docs equals documents.size, and ok is
  * error == null (including the maxTurnBytes gate).
  */
case class ExtractStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"extract_stats requires STRING, got ${child.dataType.sql}")

  override def dataType: DataType = ExtractStats.schema
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ExtractStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExtractStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ExtractStats =
    copy(child = newChild)
}

object ExtractStats {

  val schema: StructType = StructType(Seq(
    StructField("n_docs", IntegerType, nullable = false),
    StructField("n_paras", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false)))

  /** Static so generated code calls it directly (no ctx references). */
  def compute(u: UTF8String): InternalRow = {
    // UTF8String -> String is the one unavoidable copy: the kernel is
    // char-based (the reference's semantics are java.lang.String's)
    // byte gate BEFORE the UTF8String -> String copy: numBytes is the
    // exact UTF-8 length for free, and gating first means a pathological
    // 100 MB row never allocates its char[] at all (TurnExtractor parity:
    // its byteGate computes the same UTF-8 byte count from the String
    // side, so both paths gate on identical values and report bytes)
    if (u.numBytes > TurnExtractor.maxTurnBytes) {
      return new GenericInternalRow(Array[Any](0, 0, 0, u.numBytes.toLong,
        false))
    }
    val text = u.toString
    try {
      val elements =
        if (HtmlExtract.looksLikeHtml(text)) HtmlExtract.tokenize(text)
        else Tokenizer.tokenize(text)
      val md = Segmenter.segment(elements)
      var nParas = 0
      var nSegs = 0
      var chars = 0L
      var bytes = 0L
      var di = 0
      while (di < md.documents.size) {
        val paras = md.documents(di).paragraphs
        nParas += paras.size
        var pi = 0
        while (pi < paras.size) {
          val p = paras(pi)
          if (p.header.length > 0) {
            nSegs += 1
            chars += p.header.length
            bytes += TurnExtractor.utf8Length(p.header.text)
          }
          if (p.body.length > 0) {
            nSegs += 1
            chars += p.body.length
            bytes += TurnExtractor.utf8Length(p.body.text)
          }
          pi += 1
        }
        di += 1
      }
      if (nSegs > 1) { // "\n" joiner: 1 char, 1 byte between segments
        chars += nSegs - 1
        bytes += nSegs - 1
      }
      new GenericInternalRow(Array[Any](
        md.documents.size, nParas, chars.toInt, bytes, true))
    } catch {
      case _: Exception =>
        new GenericInternalRow(Array[Any](0, 0, 0, 0L, false))
    }
  }

  /** Column surface. */
  def extractStats(c: Column): Column =
    GraftShims.column(ExtractStats(GraftShims.expression(c)))

  /** SQL surface: `SELECT extract_stats(text).*`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "extract_stats", exprs => ExtractStats(exprs.head), "scala_udf")
}

/** The payload kernel as a native Catalyst expression: the only Spark form
  * of [[TurnExtractor.extract]]. It returns one struct per turn — an
  * [[ExtractedTurn]] minus its two keys — built straight into Catalyst's
  * internal row format, so the payload never crosses the typed object
  * serde (no `as[...]` decode of the input, no encoder pass over the
  * output). Null text is extracted as "" (the kernel's own rule).
  *
  * Declared non-deterministic so that the optimizer never duplicates it:
  * a deterministic expression referenced by several `_x.field`
  * projections may be inlined into a pushed-down filter (e.g.
  * `error IS NULL`) and then runs twice per turn. Non-deterministic
  * expressions are neither inlined nor pushed through, so the kernel
  * runs exactly once per turn in every plan (PlanShapeSpec pins it).
  * Column pruning may still drop it when no payload column is consumed.
  */
case class ExtractTurn(child: Expression) extends UnaryExpression
    with Nondeterministic {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"extract_turn requires STRING, got ${child.dataType.sql}")

  override def dataType: DataType = ExtractTurn.schema
  override def nullable: Boolean = false

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  override protected def evalInternal(input: InternalRow): Any =
    ExtractTurn.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.ExtractTurn.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractTurn =
    copy(child = newChild)
}

object ExtractTurn {

  /** The row keys the caller already holds; the expression returns the rest. */
  private val keys: Seq[String] = Seq("conv_id", "turn_idx")

  /** [[ExtractedTurn]]'s encoder schema without [[keys]], nullability
    * included, so `(conv_id, turn_idx, _x.*)` is exactly the typed schema.
    */
  val schema: StructType = StructType(
    Encoders.product[ExtractedTurn].schema.filterNot(f => keys.contains(f.name)))

  /** Static so generated code calls it directly. Field order and types
    * follow [[schema]].
    */
  def compute(u: UTF8String): InternalRow = {
    val e = TurnExtractor.extract(null, 0, if (u == null) null else u.toString)
    new GenericInternalRow(Array[Any](
      array(e.documents)(d => row(str(d.docType),
        array(d.paragraphs)(p => row(seg(p.header), seg(p.body))))),
      str(e.extractedText),
      array(e.spans)(s => row(str(s.kind), s.offset, s.length)),
      str(e.version),
      str(e.error),
      e.nParas,
      e.nBytes))
  }

  private def str(s: String): UTF8String = UTF8String.fromString(s)

  private def row(values: Any*): InternalRow = new GenericInternalRow(values.toArray)

  private def seg(t: TextSeg): InternalRow =
    if (t == null) null else row(t.offset, str(t.text), t.length)

  private def array[A](xs: Seq[A])(f: A => Any): ArrayData =
    if (xs == null) null
    else {
      val out = new Array[Any](xs.size)
      var i = 0
      xs.foreach { x => out(i) = f(x); i += 1 }
      new GenericArrayData(out)
    }

  /** Column surface: a struct column of the payload fields. */
  def extractTurn(c: Column): Column =
    GraftShims.column(ExtractTurn(GraftShims.expression(c)))
}
