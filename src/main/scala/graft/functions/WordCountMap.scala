package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-invocable `mapf`-style fan-out: a Catalyst [[Generator]] that
  * runs the reference's canonical map function (worker.go:31 applies
  * a user `mapf(filename, contents) -> []KeyValue`; wordcount is the
  * canonical app, README.MD:82) as a UDTF —
  * `LATERAL VIEW wc_map(text) t AS word, cnt` emits one
  * (word, in-document count) row per distinct whitespace token.
  *
  * This closes the SQL side of the UDF/UDTF surface: the typed path
  * is [[graft.operators.MRJob.mapf]]; scalar SQL functions are the
  * registered native expressions; and row→many-rows fan-out is this
  * generator. Unlike `explode(tokens(...))` + GROUP BY, the
  * per-document counting happens INSIDE the generator — map-side,
  * one pass over the tokens, no shuffle for the within-document
  * aggregation (the map-combine the reference's wordcount mapf
  * leaves to reducers, folded into the map step).
  *
  * Output rows are word-sorted within a document (Spark's binary
  * string order), so the fan-out is deterministic row-for-row, not
  * just as a set. Interpreted eval (CodegenFallback) like every Spark
  * built-in generator: generators sit outside WholeStageCodegen
  * anyway (GenerateExec), so nothing is lost on the hot path.
  */
case class WordCountMap(child: Expression) extends UnaryExpression
    with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"wc_map requires a string argument, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) return Nil
    // the shared tokenizer (the rule every wordcount oracle agrees on),
    // counted as the UTF8String slices it returns — no String round trip
    val words = Tokens.compute(t.asInstanceOf[UTF8String])
    val counts = scala.collection.mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < words.numElements()) {
      val w = words.getUTF8String(i)
      counts.update(w, counts.getOrElse(w, 0L) + 1L)
      i += 1
    }
    counts.toSeq.sortWith((a, b) => a._1.binaryCompare(b._1) < 0).map {
      case (w, c) => InternalRow(w, c)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WordCountMap =
    copy(child = newChild)
}
