package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructType}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** The nearest-centroid kernel's two routes against each other and
  * against a plain Scala argsort, at 1, 32 (the literal cap) and 33
  * centroids with m ∈ {1, 3, n}. Coordinates sit on a quarter-unit grid,
  * so every d2 is exact, and centroids are drawn from a smaller pool, so
  * duplicates tie exactly; ids are distinct, shuffled (the lower-id tie
  * rule is not the input order) and Int- or Long-ranged. The carried
  * column must ride through both routes unchanged.
  */
object CentroidsProps extends Properties("Centroids") {

  // every sample runs up to six Spark jobs
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4)

  private lazy val spark = graft.SparkSpec.spark

  private val Dim = 3
  private val vecGen: Gen[List[Double]] = Gen.listOfN(Dim, Gen.choose(-8, 8).map(_ / 4.0))

  /** n vectors picked from a pool of about 3n/4 (duplicates tie). */
  private def centroidVecs(n: Int): Gen[List[List[Double]]] = for {
    pool <- Gen.listOfN(math.max(1, n * 3 / 4), vecGen)
    picks <- Gen.listOfN(n, Gen.choose(0, pool.size - 1))
  } yield picks.map(pool)

  /** n distinct ids in [lo, hi + 7n), shuffled. */
  private def idsGen[T](n: Int, lo: Long, hi: Long, conv: Long => T): Gen[List[T]] = for {
    base <- Gen.choose(lo, hi)
    seed <- Gen.long
  } yield new scala.util.Random(seed).shuffle((0 until n).map(i => conv(base + 7L * i))).toList

  private val rowsGen: Gen[List[List[Double]]] = Gen.listOfN(12, vecGen)

  private def sqDist(e: Seq[Double], c: Seq[Double]): Double = {
    val xx = e.foldLeft(0.0)((a, x) => a + x * x)
    val cc = c.foldLeft(0.0)((a, x) => a + x * x)
    val dot = e.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2)
    math.max(xx - 2.0 * dot + cc, 0.0)
  }

  /** (carried v, m nearest (d2, id)) per row key on one route; fails the
    * property on a literal-route codegen fallback at or below the cap. */
  private def run[T](rows: DataFrame, cents: Seq[(T, Seq[Double])], m: Int,
      join: Boolean): (Map[Long, (Int, List[(Double, Any)])], org.apache.spark.sql.types.DataType) =
    Centroids.pinnedJoin.withValue(Some(join)) {
      val out = Centroids.nearest(rows, "e", cents, m, "vec_id", "v")
      val (got, failures) = graft.SparkSpec.codegenFailures(out.collect())
      assert(join || cents.size > Centroids.LiteralArgminMax || failures.isEmpty,
        s"literal route at n=${cents.size}, m=$m fell back to interpreted code")
      val idType = out.schema("near").dataType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType]("id").dataType
      (got.map(r => r.getLong(0) -> (r.getInt(1),
        r.getSeq[Row](2).map(s => (s.getDouble(0), s.get(1))).toList)).toMap, idType)
    }

  private def routesAgree[T](n: Int, ids: Gen[List[T]], idType: org.apache.spark.sql.types.DataType)
      (implicit ord: Ordering[T]): Prop =
    Prop.forAllNoShrink(centroidVecs(n), ids, rowsGen) { (vecs, idList, rowVecs) =>
      import spark.implicits._
      val cents = idList.zip(vecs)
      val rows = rowVecs.zipWithIndex.map { case (e, i) => (i.toLong, i * 10, e) }
        .toDF("vec_id", "v", "e")
      Prop.all(Seq(1, 3, n).distinct.map { m =>
        val want = rowVecs.zipWithIndex.map { case (e, i) =>
          i.toLong -> (i * 10, cents.map { case (id, c) => (sqDist(e, c), id) }
            .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, ord)).take(m))
        }.toMap
        val (lit, litType) = run(rows, cents, m, join = false)
        val (joined, joinType) = run(rows, cents, m, join = true)
        (lit == want) :| s"literal route, m=$m" &&
          (joined == want) :| s"join route, m=$m" &&
          (litType == idType && joinType == idType) :| s"id type $litType / $joinType"
      }: _*)
    }

  for (n <- Seq(1, 32, 33)) {
    property(s"routes equal a Scala argsort: n=$n, Int ids") =
      routesAgree(n, idsGen(n, Int.MinValue.toLong, Int.MaxValue.toLong - 7L * n, _.toInt),
        IntegerType)
    property(s"routes equal a Scala argsort: n=$n, Long ids") =
      routesAgree(n, idsGen(n, Long.MinValue / 4, Long.MaxValue / 4, identity), LongType)
  }

  property("m < 1, no centroids and repeated ids are refused") = Prop.delay {
    import spark.implicits._
    val rows = Seq((0L, 0, List(0.0, 0.0, 0.0))).toDF("vec_id", "v", "e")
    val one = Seq(0 -> Seq(1.0, 0.0, 0.0))
    def refused(f: => DataFrame): Prop =
      Prop.throws(classOf[IllegalArgumentException])(f)
    refused(Centroids.nearest(rows, "e", one, 0, "vec_id")) &&
      refused(Centroids.nearest(rows, "e", Seq.empty[(Int, Seq[Double])], 1, "vec_id")) &&
      refused(Centroids.nearest(rows, "e", one ++ one, 1, "vec_id"))
  }
}
