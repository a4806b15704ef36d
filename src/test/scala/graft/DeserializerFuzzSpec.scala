package graft

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PromKernel.{compatJson, promJson, rfc3339Nano}
import graft.functions.prom.prom_deserialize

/** The consume path's deserializers (`prom_deserialize`, formatId 0 = json,
  * 1 = json-compat): what the produce serializers write reads back to the
  * same sample, and a corrupt message is poison (a null struct, skipped and
  * acked), never an exception that fails the micro-batch.
  */
class DeserializerFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()

  private final case class In(ms: Long, value: Double, labels: Map[String, String], tenant: String)

  private val StaleNaN = java.lang.Double.longBitsToDouble(0x7ff0000000000002L)

  /** Label text: JSON escapes, control characters, the characters Go
    * escapes for HTML, and non-ASCII up to 4-byte UTF-8.
    */
  private val text: Gen[String] = Gen.resize(8, Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("\"", "\\", "/", "\n", "\r", "\t", "\u0000", "\u0001", "\u001f",
      "<", ">", "&", "\u2028", "\u2029"),
    2 -> Gen.oneOf("é", "ÿ", "日", "😀", "\u007f")))).map(_.mkString)

  private val value: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e6, 1e6),
    2 -> Gen.long.map(java.lang.Double.longBitsToDouble), // any bits: subnormals, NaN payloads
    2 -> Gen.oneOf(Double.NaN, StaleNaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue, 1e21, 1e-7))

  /** json carries seconds as an exact decimal: every Long round-trips. */
  private val jsonMs: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(-1L << 42, 1L << 42),
    1 -> Gen.long,
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, 999L, -1000L))

  /** json-compat carries RFC 3339, whose year has four digits. */
  private val FirstRfc3339Ms = -62167219200000L // 0000-01-01T00:00:00Z
  private val LastRfc3339Ms = 253402300799999L // 9999-12-31T23:59:59.999Z
  private val compatMs: Gen[Long] = Gen.frequency(
    3 -> Gen.choose(-1L << 42, 1L << 42),
    1 -> Gen.choose(FirstRfc3339Ms, LastRfc3339Ms),
    1 -> Gen.oneOf(FirstRfc3339Ms, LastRfc3339Ms, 0L, -1L))

  private def sample(ms: Gen[Long]): Gen[In] = for {
    t <- ms
    v <- value
    n <- Gen.choose(0, 5)
    labels <- Gen.listOfN(n, Gen.zip(text, text))
    name <- Gen.option(text)
    tenant <- Gen.frequency(2 -> Gen.const(""), 1 -> text)
  } yield In(t, v, labels.toMap ++ name.map("__name__" -> _), tenant)

  private def serialize(format: Int, s: In): String = {
    val (k, v) = s.labels.toArray.unzip
    if (format == 0) promJson(s.ms, s.value, k, v, s.tenant)
    else compatJson(s.ms, s.value, k, v, s.tenant, avroMode = false)
  }

  private def listOf[T](n: Int, g: Gen[T], seed: Long): Seq[T] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  /** `prom_deserialize` over UTF-8 payload bytes cast to a string, as the
    * consume query reads the broker's binary payload; None for a null struct.
    */
  private def deserialized(format: Int, payloads: Seq[Array[Byte]]): Seq[Option[In]] =
    spark.createDataset(payloads)(Encoders.BINARY).toDF("payload")
      .select(prom_deserialize(format, col("payload").cast("string")).as("s"))
      .collect().toSeq.map { r =>
        Option(r.getStruct(0)).map((s: Row) =>
          In(s.getLong(0), s.getDouble(1), s.getMap[String, String](2).toMap, s.getString(3)))
      }

  private def same(a: In, b: In): Boolean =
    a.ms == b.ms && a.labels == b.labels && a.tenant == b.tenant &&
      (if (a.value.isNaN) b.value.isNaN
       else java.lang.Double.doubleToRawLongBits(a.value) == java.lang.Double.doubleToRawLongBits(b.value))

  for ((format, name, ms) <- Seq((0, "json", jsonMs), (1, "json-compat", compatMs))) {
    test(s"$name: serialized samples read back to themselves") {
      val in = listOf(2000, sample(ms), 8000L + format)
      val got = deserialized(format, in.map(serialize(format, _).getBytes(UTF_8)))
      val bad = in.zip(got).filterNot { case (i, g) => g.exists(same(i, _)) }
      // NaN of any payload, the staleness marker's too, is written "NaN"
      // (Go's FormatFloat), so it reads back as a NaN, not the same bits
      assert(bad.isEmpty, s"${bad.size} of ${in.size} differ; first: ${bad.headOption.map {
        case (i, g) => s"${serialize(format, i)} -> $g" }}")
    }
  }

  test("json-compat: a timestamp outside years 0000-9999 is poison, not an exception or another time") {
    // Go's layout: a year before 0 gets a sign, which time.Parse rejects
    assert(rfc3339Nano(FirstRfc3339Ms - 1) == "-0001-12-31T23:59:59.999Z")
    assert(rfc3339Nano(Long.MinValue) == "-292275055-05-16T16:47:04.192Z")
    val in = listOf(200, sample(Gen.oneOf(
      Gen.choose(Long.MinValue, FirstRfc3339Ms - 1), Gen.choose(LastRfc3339Ms + 1, Long.MaxValue))), 8100L)
    assert(deserialized(1, in.map(serialize(1, _).getBytes(UTF_8))).forall(_.isEmpty))
  }

  test("json-compat: __name__ is backfilled from name only when the labels lack it") {
    def compat(labels: String, name: String) =
      s"""{"labels":$labels,$name"timestamp":"1970-01-01T00:00:10.001Z","value":"1"}""".getBytes(UTF_8)
    val got = deserialized(1, Seq(
      compat("""{"job":"a"}""", """"name":"up","""),
      compat("""{"__name__":"kept","job":"a"}""", """"name":"up","""),
      compat("""{"job":"a"}""", """"name":"","""),
      compat("""{"job":"a"}""", ""),
      compat("""{}""", """"name":"日\"x","""))).map(_.map(_.labels))
    assert(got == Seq(
      Some(Map("job" -> "a", "__name__" -> "up")),
      Some(Map("__name__" -> "kept", "job" -> "a")),
      Some(Map("job" -> "a")),
      Some(Map("job" -> "a")),
      Some(Map("__name__" -> "日\"x"))))
  }

  private val strict = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** One JSON value and nothing after it but white space. */
  private def wellFormed(s: String): Boolean =
    try { strict.readTree(s); true } catch { case _: Exception => false }

  /** A serialized sample with bytes flipped, dropped, inserted or cut off. */
  private def mutated(format: Int): Gen[Array[Byte]] = for {
    s <- sample(if (format == 0) jsonMs else compatMs)
    raw = serialize(format, s).getBytes(UTF_8)
    edits <- Gen.choose(1, 3)
    out <- (0 until edits).foldLeft(Gen.const(raw)) { (g, _) =>
      g.flatMap { b =>
        if (b.isEmpty) Gen.const(b)
        else Gen.choose(0, b.length - 1).flatMap { at =>
          Gen.oneOf(
            Gen.choose(Byte.MinValue, Byte.MaxValue).map(x => b.updated(at, x)),
            Gen.const(b.patch(at, Nil, 1)),
            Gen.oneOf("}", "]", "\"", ",", ":", "x", " ", "{}").map(x => b.patch(at, x.getBytes(UTF_8), 0)),
            Gen.const(b.take(at)),
            Gen.oneOf("x", "}", "{}", "[]", ",").map(x => b ++ x.getBytes(UTF_8)))
        }
      }
    }
  } yield out

  for ((format, name) <- Seq((0, "json"), (1, "json-compat"))) {
    test(s"$name: random and byte-mutated payloads are null structs or well-formed JSON, and never throw") {
      val random = listOf(500, Gen.choose(0, 64).flatMap(n =>
        Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)), 8200L + format)
      assert(deserialized(format, random).forall(_.isEmpty))

      val mutants = listOf(3000, mutated(format), 8300L + format)
      val got = deserialized(format, mutants)
      val accepted = mutants.zip(got).collect { case (m, Some(_)) => new String(m, UTF_8) }
      val illFormed = accepted.filterNot(wellFormed)
      assert(illFormed.isEmpty, s"${illFormed.size} ill-formed payloads read as samples; first: ${illFormed.headOption}")
      assert(got.count(_.isEmpty) > mutants.size / 2, "most mutants should be poison")
    }
  }
}
