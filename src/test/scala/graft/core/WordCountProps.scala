package graft.core

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck form of the README's algebraic claim (reference
  * `README.md:20-23`): MapReduce over an associative+commutative reducer
  * is a list homomorphism — invariant under input permutation and
  * partitioning. (SURVEY.md §5 item 3.)
  */
object WordCountProps extends Properties("WordCount") {

  private[core] lazy val spark = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val lineGen: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "b", "cc", "d e", " ")).map(_.mkString(" "))

  private def wc(lines: Seq[String], partitions: Int): Map[String, Long] = {
    import spark.implicits._
    WordCount.counts(
      spark.createDataset(lines.zipWithIndex.map { case (l, i) => (i.toLong, l) })
        .repartition(partitions))
      .collect().toMap
  }

  property("partition- and permutation-invariant") =
    Prop.forAll(Gen.listOfN(12, lineGen), Gen.choose(1, 7)) { (lines, p) =>
      val base = wc(lines, 1)
      wc(scala.util.Random.shuffle(lines), p) == base
    }

  property("counts match an in-memory reference fold") =
    Prop.forAll(Gen.listOfN(10, lineGen)) { lines =>
      val expected = lines.flatMap(WordCount.tokens(_))
        .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
      wc(lines, 3) == expected
    }
}
