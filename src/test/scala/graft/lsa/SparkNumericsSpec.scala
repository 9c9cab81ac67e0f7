package graft.lsa

import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.functions.{col, round, sum}
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec

/** Reference spec for [[SparkNumerics]]: `dec` and `round` against
  * Spark's own CAST and ROUND on a DataFrame column, with ANSI on and
  * off — null, value (scale included) and thrown condition must all
  * agree, doubles compared bit for bit.
  */
class SparkNumericsSpec extends SparkSpec {
  import spark.implicits._

  private val values = Seq(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0, 0.0, 2.675, -2.675, 5e-7, 1e-19,
    9.99e19, 1e20, 1e15, 0.1 + 0.2, 123.4567895)
  private val types = Seq((38, 18), (28, 14), (18, 6), (4, 2))

  /** Right(value) or Left(error condition) — what a caller observes. */
  private def outcome[T](f: => T): Either[String, T] = Try(f) match {
    case Success(v) => Right(v)
    case Failure(e) =>
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      Left(chain.collectFirst { case t: SparkThrowable => t.getCondition }
        .getOrElse(throw e))
  }

  private def withAnsi(on: Boolean)(body: => Unit): Unit = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  for (ansi <- Seq(true, false)) {
    test(s"dec matches CAST(double AS DECIMAL(p,s)) with ANSI $ansi") {
      withAnsi(ansi) {
        for (x <- values; (p, s) <- types) {
          val ours = outcome(SparkNumerics.dec(x, p, s))
          val theirs = outcome(Seq(x).toDF("x")
            .select(col("x").cast(DecimalType(p, s))).head().getDecimal(0))
          assert(ours == theirs, s"x=$x ($p,$s)")
        }
        // the pinned corners, spelled out
        assert(SparkNumerics.dec(Double.NaN, 38, 18) == null)
        assert(SparkNumerics.dec(2.675, 4, 2) == new java.math.BigDecimal("2.68"))
        assert(SparkNumerics.dec(9.99e19, 38, 18) != null)
        val over = outcome(SparkNumerics.dec(1e20, 38, 18))
        if (ansi) assert(over.left.exists(_.startsWith("NUMERIC_VALUE_OUT_OF_RANGE")))
        else assert(over == Right(null))
      }
    }

    test(s"round matches ROUND(double, s) bit for bit with ANSI $ansi") {
      withAnsi(ansi) {
        for (x <- values; s <- Seq(2, 6, 14, 18)) {
          val ours = SparkNumerics.round(x, s)
          val theirs = Seq(x).toDF("x").select(round(col("x"), s)).head().getDouble(0)
          assert(java.lang.Double.doubleToLongBits(ours) ==
            java.lang.Double.doubleToLongBits(theirs), s"x=$x s=$s")
        }
        assert(SparkNumerics.round(5e-7, 6) == 1e-6)
      }
    }
  }

  test("plus is sum over DECIMAL: null terms skipped, all-null sum is null") {
    def viaSpark(xs: Seq[Double]) = xs.toDF("x")
      .agg(sum(col("x").cast(DecimalType(38, 18)))).head().getDecimal(0)
    def viaKernel(xs: Seq[Double]) =
      xs.foldLeft(null: java.math.BigDecimal)((acc, x) =>
        SparkNumerics.plus(acc, SparkNumerics.dec(x, 38, 18)))
    for (xs <- Seq(Seq(1.5, Double.NaN, 2.25), Seq(Double.NaN), Seq(0.1, 0.2)))
      assert(viaKernel(xs) == viaSpark(xs), xs.toString)
  }
}
