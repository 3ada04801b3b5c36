package graft.core

import org.scalacheck.{Gen, Prop, Properties, Test}

/** The in-mapper combiner behind `MapReduce.runReduced`,
  * `runAggregated` and `topKPerKey`: for any input, partition count and
  * combiner key bound (bounds 1-3 force a flush every few keys), each
  * equals a naive in-memory fold. Keys whose JVM equality is finer than
  * Spark's grouping (`-0.0`/`0.0`, `NaN`, `Array[Byte]`) stay split on
  * the map side and must still come out as one group. Without a flush
  * the combiner emits exactly one row per distinct key of its partition.
  */
object CombinerProps extends Properties("Combiner") {

  // every sample runs Spark jobs: fewer samples than ScalaCheck's 100
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = WordCountProps.spark

  private val pairsGen: Gen[List[(Int, Long)]] =
    Gen.listOf(Gen.zip(Gen.choose(0, 6), Gen.choose(-50L, 50L)))
  private val partitionsGen = Gen.choose(1, 7)
  private val boundGen = Gen.oneOf(1, 2, 3)

  private def ds[A: org.apache.spark.sql.Encoder](rows: Seq[A], p: Int) =
    spark.createDataset(rows)(implicitly).repartition(p)

  property("runReduced equals a naive fold") =
    Prop.forAll(pairsGen, partitionsGen, boundGen) { (pairs, p, bound) =>
      import spark.implicits._
      val got = MapReduce.reduced[Int, Long, Int, Long](
        ds(pairs, p), (k, v) => Seq((k, v), (k + 1, 2 * v)), _ + _, bound)
        .collect().toMap
      val want = pairs.flatMap { case (k, v) => Seq((k, v), (k + 1, 2 * v)) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      got == want
    }

  property("runAggregated equals a naive fold") =
    Prop.forAll(pairsGen, partitionsGen, boundGen) { (pairs, p, bound) =>
      import spark.implicits._
      // (count, sum) buffer, formatted output
      val got = MapReduce.aggregated[Int, Long, Int, Long, (Long, Long), String](
        ds(pairs, p), (k, v) => Seq((k, v)), () => (0L, 0L),
        (b, v) => (b._1 + 1, b._2 + v), (x, y) => (x._1 + y._1, x._2 + y._2),
        b => s"${b._1}:${b._2}", bound)
        .collect().toMap
      val want = pairs.groupBy(_._1).map { case (k, vs) =>
        k -> s"${vs.size}:${vs.map(_._2).sum}" }
      got == want
    }

  property("topKPerKey equals a naive sort per key") =
    Prop.forAll(pairsGen, partitionsGen, boundGen, Gen.choose(1, 4)) {
      (pairs, p, bound, k) =>
        import spark.implicits._
        // a total order, so ties at rank k cannot differ between the two
        implicit val ord: Ordering[Long] = Ordering.Long.reverse
        val got = MapReduce.topKPerKeyBounded(ds(pairs, p), k, bound)
          .collect().toMap
        val want = pairs.groupBy(_._1).map { case (key, vs) =>
          key -> vs.map(_._2).sorted(ord).take(k) }
        got == want
    }

  // -0.0, 0.0 and NaN (two NaN bit patterns): JVM-distinct or
  // JVM-equal where Spark's grouping normalizes
  private val doubleKeyGen: Gen[Double] = Gen.oneOf(-0.0, 0.0, Double.NaN,
    java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 1.5, -1.5)

  property("Double keys group as Spark groups them (-0.0 = 0.0, NaN = NaN)") =
    Prop.forAll(Gen.listOf(Gen.zip(doubleKeyGen, Gen.choose(0L, 9L))),
        partitionsGen, boundGen) { (pairs, p, bound) =>
      import spark.implicits._
      def norm(d: Double): Long =
        java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
      val got = MapReduce.reduced[Double, Long, Double, Long](
        ds(pairs, p), (k, v) => Seq((k, v)), _ + _, bound)
        .collect().toSeq
      val want = pairs.groupMapReduce(t => norm(t._1))(_._2)(_ + _)
      got.size == want.size && got.map(t => norm(t._1) -> t._2).toMap == want
    }

  property("Array[Byte] keys group by content") =
    Prop.forAll(Gen.listOf(Gen.zip(Gen.listOfN(2, Gen.choose[Byte](0, 2)),
        Gen.choose(0L, 9L))), partitionsGen, boundGen) { (pairs, p, bound) =>
      import spark.implicits._
      // fresh arrays per pair: equal content, distinct JVM identity
      val got = MapReduce.reduced[Long, List[Byte], Array[Byte], Long](
        ds(pairs.map(_.swap), p), (v, k) => Seq((k.toArray, v)), _ + _, bound)
        .collect().toSeq
      val want = pairs.groupMapReduce(_._1)(_._2)(_ + _)
      got.size == want.size && got.map(t => t._1.toList -> t._2).toMap == want
    }

  property("without a flush the combiner emits one row per distinct key " +
      "of its partition") =
    Prop.forAll(pairsGen, partitionsGen) { (pairs, p) =>
      import spark.implicits._
      val data = spark.sparkContext.parallelize(pairs, p).toDS()
      val want = data.rdd.glom().collect().map(_.groupMapReduce(_._1)(_._2)(_ + _))
      val got = MapReduce.combineInMapper[Int, Long, Int, Long, Long](
          data, (k, v) => Iterator.single((k, v)), identity, _ + _, Int.MaxValue)
        .rdd.glom().collect()
      got.length == want.length && got.zip(want).forall { case (rows, m) =>
        rows.length == m.size && rows.toMap == m
      }
    }
}
