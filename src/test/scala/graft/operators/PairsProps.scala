package graft.operators

import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop, Properties, Test}

/** The candidate-pair kernel against naive all-pairs on tiny tables: ids
  * 0-20 and keys from a 3-value domain (so some keys are hot), with null
  * ids and null keys mixed in. `self` emits each (pair, shared key) once
  * with `a < b`, `cross` does so for every batch × corpus pair with
  * `a ≠ b`, and `withSides` attaches each side's own values.
  */
object PairsProps extends Properties("Pairs") {

  // every sample runs Spark jobs: fewer samples than ScalaCheck's 100
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private lazy val spark = graft.SparkSpec.spark

  private def orNull(g: Gen[Int]): Gen[Option[Int]] =
    Gen.frequency(8 -> g.map(Some(_)), 1 -> Gen.const(None))

  /** (id, key, v) rows; v tells rows with the same id apart. */
  private type R = (Option[Int], Option[Int], Int)
  private val rowsGen: Gen[List[R]] = Gen.resize(25, Gen.listOf(
    Gen.zip(orNull(Gen.choose(0, 20)), orNull(Gen.choose(0, 2)), Gen.choose(-9, 9))))

  private def df(rows: Seq[R]) = {
    import spark.implicits._
    rows.toDF("id", "k", "v")
  }

  /** (k, a, v_a, b, v_b) per output row, sorted: the multiset to compare. */
  private def got(out: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Int, Int, Int)] =
    out.select("k", "a", "v_a", "b", "v_b").collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).sorted

  /** Every row pair sharing a non-null key with non-null ids passing `keep`. */
  private def naive(xs: Seq[R], ys: Seq[R], keep: (Int, Int) => Boolean) =
    (for {
      (Some(a), Some(k), va) <- xs
      (Some(b), Some(k2), vb) <- ys
      if k == k2 && keep(a, b)
    } yield (k, a, va, b, vb)).sorted

  // multiset equality: the distinct (a, b) set matches too
  property("self equals naive a < b pairs, once per shared key") =
    Prop.forAll(rowsGen) { rows =>
      got(Pairs.self(df(rows), "id", Seq("k"), "v")) == naive(rows, rows, _ < _)
    }

  property("cross equals naive a != b pairs, once per shared key") =
    Prop.forAll(rowsGen, rowsGen) { (batch, corpus) =>
      got(Pairs.cross(df(batch), df(corpus), "id", Seq("k"), "v")) ==
        naive(batch, corpus, _ != _)
    }

  private val sideGen: Gen[Map[Int, Int]] = Gen.mapOf(
    Gen.zip(Gen.choose(0, 20), Gen.choose(-9, 9)))

  property("withSides attaches each side's own values") =
    Prop.forAll(Gen.listOf(Gen.zip(orNull(Gen.choose(0, 20)), orNull(Gen.choose(0, 20)))),
        sideGen, sideGen) { (pairs, aSide, bSide) =>
      import spark.implicits._
      val out = Pairs.withSides(pairs.toDF("a", "b"), aSide.toSeq.toDF("id", "v"),
          bSide.toSeq.toDF("id", "v"), "id", "v")
        .select("a", "b", "v_a", "v_b").collect().toSeq
        .map { case Row(a: Int, b: Int, va: Int, vb: Int) => (a, b, va, vb) }.sorted
      val want = (for {
        (Some(a), Some(b)) <- pairs
        va <- aSide.get(a)
        vb <- bSide.get(b)
      } yield (a, b, va, vb)).sorted
      out == want
    }
}
