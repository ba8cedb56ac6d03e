package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Parity

/** Parity.dsumLocal must be bit-identical to the distributed dsum rail
  * (sum(cast(x as decimal(30,8))).cast(double)) — the r16 driver-local
  * operators (IPF grids) depend on the equality.
  */
class ParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dsumLocal ≡ dsum on adversarial doubles, any partitioning") {
    val rng = new scala.util.Random(42)
    val cases: Seq[Seq[Double]] = Seq(
      Seq(0.0),
      Seq(1.0 / 3.0, 2.0 / 3.0, -1.0 / 3.0),
      // representative of IPF weights: positive, spanning magnitudes
      Seq.fill(200)(math.exp(rng.nextGaussian() * 5)),
      // cancellation-heavy
      Seq.tabulate(100)(i => if (i % 2 == 0) 1e8 + i * 0.1 else -(1e8 + i * 0.1)),
      // sub-ulp-of-scale values (round to 0 at scale 8)
      Seq(1e-12, 2e-12, 5e-9, -5e-9),
      // half-up tie at the 8th decimal
      Seq(0.000000005, 0.000000015, -0.000000025)
    )
    cases.zipWithIndex.foreach { case (xs, i) =>
      val sparkVal = xs.toDF("x").repartition(7)
        .agg(Parity.dsum(col("x"))).head().getDouble(0)
      assert(sparkVal === Parity.dsumLocal(xs), s"case $i")
    }
  }

  test("empty input: dsum is NULL, dsumLocal rejects it") {
    val row = Seq.empty[Double].toDF("x").repartition(7)
      .agg(Parity.dsum(col("x"))).head()
    assert(row.isNullAt(0))
    intercept[IllegalArgumentException](Parity.dsumLocal(Seq.empty))
  }
}
