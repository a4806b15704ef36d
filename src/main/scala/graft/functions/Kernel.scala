package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.model.Model

/** One binding of a [[PromCatalyst]] kernel: its method, result type and
  * nullability. Both function surfaces are built from these, the Column
  * functions in [[prom]] and the SQL builders in [[GraftFunctions]], so the
  * two spellings of a kernel build the same expression.
  *
  * A binding is a `StaticInvoke`: Catalyst generates a direct static call
  * into [[PromCatalyst]], so a kernel stays inside whole-stage codegen (no
  * UDF serialization, no Row boxing).
  */
private[functions] final case class Kernel(method: String, dataType: DataType,
    nullable: Boolean = false) {
  def apply(args: Column*): Column =
    ColumnBridge.column(StaticInvoke(classOf[PromCatalyst.type], dataType, method,
      args.map(ColumnBridge.expression).toIndexedSeq, Nil, true, nullable, true, None))
}

private[functions] object Kernel {
  private val longs = ArrayType(LongType, containsNull = false)
  private val strings = ArrayType(StringType, containsNull = false)

  /** struct(key, template): a series' partition key and its payload with the
    * timestamp and the value left open.
    */
  val seriesType: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("template", BinaryType, nullable = false)))

  val valueString = Kernel("valueString", StringType)
  val secondsString = Kernel("secondsString", StringType)
  val rfc3339Nano = Kernel("rfc3339Nano", StringType)
  val parseRfc3339 = Kernel("parseRfc3339", LongType, nullable = true)
  val seriesOfEntries = Kernel("seriesOfEntries", seriesType)
  val seriesOfMap = Kernel("seriesOfMap", seriesType)
  val fill = Kernel("fill", StringType)
  val labelMap = Kernel("labelMap", MapType(StringType, StringType, valueContainsNull = true),
    nullable = true)
  val deserialize = Kernel("deserialize", Model.sampleSchema, nullable = true)
  val snappyCompress = Kernel("snappyCompress", BinaryType)
  val snappyUncompress = Kernel("snappyUncompress", BinaryType, nullable = true)
  val pbEncode = Kernel("pbEncode", BinaryType)
  val seriesEntry = Kernel("seriesEntry", BinaryType)
  val pbDecode = Kernel("pbDecode", ArrayType(Model.timeseriesSchema, containsNull = false),
    nullable = true)
  val fingerprint64 = Kernel("fingerprint64", LongType)
  val simhash64 = Kernel("simhash64", StringType)
  val hamming64 = Kernel("hamming64", LongType)
  val mix64 = Kernel("mix64", LongType)
  val shingleG = Kernel("shingleG", longs)
  val ngramG = Kernel("ngramG", longs)
  val applyMerges = Kernel("applyMerges", strings)
  val applyMergesWords = Kernel("applyMergesWords", strings)
  val wordpiece = Kernel("wordpiece", strings)
  val vecDot = Kernel("vecDot", DoubleType)
  val vecSqDistQ = Kernel("vecSqDistQ", LongType)
  val nextFitBins = Kernel("nextFitBins", longs)
}
