package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Self-verifying DEFLATE probe: compresses a string's UTF-8 bytes
  * (raw stream, level 6), INFLATES the result back, and returns
  * `struct(n_comp BIGINT, roundtrip BOOLEAN)` — the compressed byte
  * count plus whether the round-trip reproduced the input bytes
  * exactly. Empty input yields null.
  *
  * Purpose: DEFLATE output is implementation-defined across
  * libraries, so no SQL engine can recompute `n_comp` — but two
  * *invariants* of a correct compressor ARE oracle-checkable from
  * the outside: (a) decompression restores the input bit-exactly,
  * and (b) the output size respects zlib's published worst-case
  * bound (5 bytes overhead per 16383-byte block plus a constant).
  * `q_llm_compression` emits those invariants as booleans the DuckDB
  * oracle pins TRUE, making the query driver-gate-checkable; the
  * exact byte-count cross-check against an independent zlib binding
  * lives in `tools/check.py` (see CHECKS.md), over the
  * `n_comp / n_bytes` ratio of `TextAnalysis.compressionRatio` — the
  * compression-ratio quality signal (repetitive text compresses far
  * below natural prose).
  *
  * Thread-local Deflater/Inflater (reset per row) keep the expression
  * thread-safe under codegen without per-row native allocation.
  */
case class DeflateCheck(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DeflateCheck.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"deflate_check requires a string argument, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    DeflateCheck.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = "graft.functions.DeflateCheck"
    // freshName: duplicate hardcoded locals across fused instances
    // fail Janino and drop to interpreted eval (ADVICE r15, Sq8Gate)
    val res = ctx.freshName("res")
    nullSafeCodeGen(ctx, ev, c => s"""
       |Object $res = $f.compute($c);
       |if ($res == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $res; }
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): DeflateCheck =
    copy(child = newChild)
}

object DeflateCheck {
  val schema: StructType = StructType(Seq(
    StructField("n_comp", LongType, nullable = false),
    StructField("roundtrip", BooleanType, nullable = false)))

  private val deflater = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
    new java.util.zip.Deflater(6, /* nowrap = */ true))
  private val inflater = ThreadLocal.withInitial[java.util.zip.Inflater](() =>
    new java.util.zip.Inflater(/* nowrap = */ true))
  private val buf = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))

  def compute(s: UTF8String): InternalRow = {
    val raw = s.getBytes
    if (raw.length == 0) return null
    val d = deflater.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    val b = buf.get()
    // the full compressed stream is needed for the inflate leg, so
    // it is buffered (one growing array, no per-row
    // Deflater/Inflater allocation)
    var comp = new Array[Byte](math.max(64, raw.length / 2))
    var n = 0
    while (!d.finished()) {
      if (n == comp.length) comp = java.util.Arrays.copyOf(comp, comp.length * 2)
      n += d.deflate(comp, n, comp.length - n)
    }
    val inf = inflater.get()
    inf.reset()
    inf.setInput(comp, 0, n)
    var ok = true
    var off = 0
    try {
      while (ok && !inf.finished()) {
        val got = inf.inflate(b)
        if (got == 0 && inf.needsInput()) ok = false // truncated stream
        else {
          var i = 0
          while (ok && i < got) {
            if (off + i >= raw.length || b(i) != raw(off + i)) ok = false
            i += 1
          }
          off += got
        }
      }
      if (off != raw.length) ok = false
    } catch { case _: java.util.zip.DataFormatException => ok = false }
    new GenericInternalRow(Array[Any](n.toLong, ok))
  }

  /** Column API: `deflate_check($"text")`. */
  def deflate_check(text: Column): Column =
    Bridge.column(DeflateCheck(Bridge.expression(text)))
}
