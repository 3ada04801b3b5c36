package graft.functions

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, col, concat, concat_ws, element_at}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType,
  StructField, StructType}
import org.scalacheck.{Gen, Prop, Properties, Test}

/** `band_keys` against the composed form it replaced, in generated code
  * (a projection over an RDD scan, so nothing is folded on the driver)
  * and in interpreted `eval`: MinHash `array<bigint>` signatures joined
  * with ":" against `concat_ws(":", element_at(…).cast("string")…)`,
  * null elements and null signatures included; SRP `array<int>` bits
  * joined with "" against the old `concat(element_at(…)…)`; and a short
  * signature fails as ANSI `element_at` does. */
object BandKeysProps extends Properties("BandKeys") {

  // every sample runs Spark jobs: fewer samples than ScalaCheck's 100
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = graft.SparkSpec.spark

  private val shapes = Gen.oneOf((128, 32), (32, 8), (12, 3), (4, 4), (1, 1))

  private val longGen: Gen[Long] = Gen.frequency(
    3 -> Gen.long, 3 -> Gen.choose(-1000L, 1000L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L))

  private def orNull[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(6 -> g.map(Some(_)), 1 -> Gen.const(None))

  /** Signatures of `len` elements plus an ignored tail of 0-2. */
  private def sigsGen[A](len: Int, elem: Gen[A]): Gen[List[Seq[A]]] =
    Gen.resize(12, Gen.listOf(Gen.choose(0, 2).flatMap(t => Gen.listOfN(len + t, elem))))

  private def frame(sigs: Seq[Any], elem: DataType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(sigs.zipWithIndex.map { case (s, i) => Row(i, s) }, 2),
      StructType(Seq(StructField("id", IntegerType),
        StructField("sig", ArrayType(elem, containsNull = true)))))

  /** The pre-native band-key form, element by element. */
  private def composed(sig: Column, numHashes: Int, bands: Int,
      join: Seq[Column] => Column): Column = {
    val r = numHashes / bands
    array((0 until bands).map(b =>
      join((0 until r).map(j => element_at(sig, b * r + j + 1).cast("string")))): _*)
  }

  private val joinWs: Seq[Column] => Column = cs => concat_ws(":", cs: _*)
  private val joinBare: Seq[Column] => Column = cs => concat(cs: _*)

  /** (native, composed) keys per row, ordered by id. */
  private def both(df: DataFrame, numHashes: Int, bands: Int, sep: String,
      join: Seq[Column] => Column): Seq[(Seq[String], Seq[String])] =
    df.select(col("id"), GraftFunctions.bandKeys(col("sig"), numHashes, bands, sep),
        composed(col("sig"), numHashes, bands, join))
      .collect().toSeq.sortBy(_.getInt(0))
      .map(r => (r.getSeq[String](1), r.getSeq[String](2)))

  /** `eval` of the expression over a literal signature. */
  private def evaluated(sig: Any, elem: DataType, numHashes: Int, bands: Int,
      sep: String): Seq[String] =
    BandKeysExpr(Literal.create(sig, ArrayType(elem, containsNull = true)),
      numHashes, bands, sep).eval()
      .asInstanceOf[ArrayData].toArray[AnyRef](StringType).map(_.toString).toSeq

  property("minhash keys equal concat_ws(':', element_at(...)), nulls skipped") =
    Prop.forAll(shapes.flatMap { case (n, b) =>
      sigsGen(n, orNull(longGen)).map(s => (n, b, s)) }) { case (n, b, sigs) =>
      // one null signature beside the generated ones
      val rows: Seq[Any] = sigs.map(_.map(_.map(Long.box).orNull)) :+ null
      val got = both(frame(rows, LongType), n, b, ":", joinWs)
      got.forall { case (native, old) => native == old } &&
        got.map(_._1) == rows.map(evaluated(_, LongType, n, b, ":"))
    }

  property("srp keys equal concat(element_at(...)) over int bits") =
    Prop.forAll(shapes.flatMap { case (n, b) =>
      sigsGen(n, Gen.oneOf(Gen.choose(0, 1), Gen.choose(Int.MinValue, Int.MaxValue)))
        .map(s => (n, b, s)) }) { case (n, b, sigs) =>
      val rows: Seq[Any] = sigs
      val got = both(frame(rows, IntegerType), n, b, "", joinBare)
      got.forall { case (native, old) => native == old } &&
        got.map(_._1) == rows.map(evaluated(_, IntegerType, n, b, ""))
    }

  private def failure(df: DataFrame): Option[(String, java.util.Map[String, String])] =
    try { df.collect(); None }
    catch {
      case e: Throwable =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: SparkThrowable => (t.getCondition, t.getMessageParameters)
        }
    }

  property("a short signature fails as ANSI element_at does") =
    Prop.forAll(shapes.flatMap { case (n, b) =>
      Gen.choose(0, n - 1).flatMap(len => Gen.listOfN(len, longGen)).map(s => (n, b, s)) }) {
      case (n, b, sig) =>
        val df = frame(Seq(sig), LongType)
        val native = failure(df.select(GraftFunctions.bandKeys(col("sig"), n, b, ":")))
        val old = failure(df.select(composed(col("sig"), n, b, joinWs)))
        native.exists(_._1 == "INVALID_ARRAY_INDEX_IN_ELEMENT_AT") && native == old
    }
}
