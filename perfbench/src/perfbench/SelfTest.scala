package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, MapType, StringType,
  StructField, StructType}

/** Checks of the benchmark's own arithmetic; no Spark session needed.
  * Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // tail: the 11th largest sits at percentile 100·(n−10)/n with n beside it
    val t100 = Stats.tail((1 to 100).map(_.toDouble))
    check("tail of 1..100 is 90 at p90 with n=100",
      t100.value == 90.0 && t100.percentile == 90.0 && t100.n == 100)
    val t25 = Stats.tail(scala.util.Random.shuffle((1 to 25).map(_.toDouble)))
    check("tail of 25 samples leaves exactly ten above it (p60)",
      t25.value == 15.0 && t25.percentile == 60.0 && t25.n == 25)
    val t10 = Stats.tail((1 to 10).map(_.toDouble))
    check("tail of 10 samples falls back to the second largest (p90)",
      t10.value == 9.0 && t10.percentile == 90.0 && t10.n == 10)
    val t4 = Stats.tail(Seq(3.0, 9.0, 1.0, 2.0))
    check("tail of 4 samples ignores the single worst one (p75)",
      t4.value == 3.0 && t4.percentile == 75.0 && t4.n == 4)
    check("tail of 1 sample is that sample at p100",
      Stats.tail(Seq(2.0)) == Stats.Tail(2.0, 100.0, 1))
    check("median of even and odd counts",
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)

    // job-interval union and self time
    val jobs = Seq((10L, 20L), (15L, 30L), (40L, 50L), (45L, 48L))
    check("union of overlapping and nested intervals",
      Intervals.covered(jobs, 0L, 100L) == 30L)
    check("union clipped to the span",
      Intervals.covered(jobs, 18L, 45L) == 17L)
    check("driver time is span minus the job union",
      Intervals.uncovered(jobs, 0L, 100L) == 70L)
    val children = Seq((5L, 25L), (20L, 35L), (90L, 120L))
    check("self time subtracts overlapping children once and clips the overhang",
      Intervals.uncovered(children, 0L, 100L) == 100L - 30L - 10L)
    check("no children: self time is the whole span",
      Intervals.uncovered(Nil, 7L, 19L) == 12L)

    // digest: order-insensitive, content- and multiplicity-sensitive
    val schema = StructType(Seq(StructField("b", StringType), StructField("a", LongType),
      StructField("m", MapType(StringType, DoubleType)), StructField("v", ArrayType(LongType))))
    val rows = Seq(
      Row("x", 1L, Map("k" -> 1.5, "j" -> 2.0), Seq(1L, 2L)),
      Row("y", 2L, Map.empty[String, Double], Seq.empty[Long]),
      Row(null, 3L, null, Seq(3L)))
    val d = Digest.ofRows(schema, rows)
    check("digest ignores row order",
      Digest.ofRows(schema, rows.reverse) == d && Digest.ofRows(schema, rows.tail :+ rows.head) == d)
    check("digest ignores map entry order",
      Digest.ofRows(schema, Row("x", 1L, Map("j" -> 2.0, "k" -> 1.5), Seq(1L, 2L)) +: rows.tail) == d)
    check("digest sees a changed value",
      Digest.ofRows(schema, Row("x", 1L, Map("k" -> 1.5, "j" -> 2.0), Seq(2L, 1L)) +: rows.tail) != d)
    check("digest sees a duplicated row",
      Digest.ofRows(schema, rows :+ rows.head) != d)
    check("digest sees a renamed column",
      Digest.ofRows(StructType(schema.fields.updated(0, StructField("c", StringType))), rows) != d)

    println(s"== ${if (failures == 0) "selftest passed" else s"$failures selftest failure(s)"} ==")
    if (failures != 0) sys.exit(1)
  }
}
