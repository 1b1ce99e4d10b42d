package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.types.DecimalType

/** Pins the q1_agg exact-sum doctrine (sf100 tier catch, round 11):
  * price SUMs accumulate in DECIMAL so the total is ONE well-defined
  * value on any engine and any partial-aggregation tree, while the
  * OUTPUT stays decimal-free (the driver gate rejects decimal
  * columns). A regression back to double accumulation stays invisible
  * below ~600M rows — the value drift is ~4e-14 relative — so the
  * property is pinned structurally here, not by value at scale. */
class ExactSumSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("q1_agg output carries no decimal column") {
    val out = graft.SparkEntry.queries("q1_agg")(spark, dir)
    assert(!out.schema.exists(_.dataType.isInstanceOf[DecimalType]),
      s"decimal column leaked into the gate output: ${out.schema}")
  }

  test("q1_agg price sums are the exact decimal totals") {
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q1_agg")(spark, dir)
      .select("l_returnflag", "l_linestatus", "sum_base_price").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // independent exact recomputation: per-row BigDecimal at 2dp,
    // summed on the driver (fixture-sized corpus) — associativity-free
    val rows = graft.io.Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
      .select("l_returnflag", "l_linestatus", "l_extendedprice").collect()
    val exact = rows.groupBy(r => (r.getString(0), r.getString(1)))
      .view.mapValues(_.map(r => BigDecimal(r.getDouble(2)).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)).sum).toMap
    exact.foreach { case (k, v) =>
      assert(out(k) == v.toDouble, s"group $k: got ${out(k)}, exact $v")
    }
  }

  test("every corpus-scaling money-sum family accumulates in decimal") {
    // r12 sweep (VERDICT r11 item 2): one representative per family —
    // rollup grand total, star-join region groups, sliding RANGE
    // window, tumbling time buckets, incremental partial-merge. Each
    // must (a) carry a Sum over DecimalType in its optimized plan and
    // (b) emit NO decimal column (the gate contract). A regression to
    // double accumulation is invisible by value below ~150M rows/group
    // — this pins it structurally.
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.types.DecimalType
    val reps = Seq("g_rollup", "j8_star_join", "fn_window_range",
      "st_tumbling_hourly", "st_incremental_agg")
    reps.foreach { name =>
      val out = graft.SparkEntry.queries(name)(spark, dir)
      assert(!out.schema.exists(_.dataType.isInstanceOf[DecimalType]),
        s"$name leaks a decimal column: ${out.schema}")
      val decimalSums = out.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect {
          case s: Sum if s.child.dataType.isInstanceOf[DecimalType] => s
        })
      }.flatten
      assert(decimalSums.nonEmpty,
        s"$name has no decimal-accumulated Sum in its optimized plan — " +
          "the money sum regressed to double accumulation")
    }
  }

  test("decimal accumulation is partition-order invariant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // values engineered so double summation order GENUINELY matters
    // (ADVICE r11: the old 1e16+0.04+0.04 retained nothing — 0.08 is
    // under the 1.0 half-ulp at 1e16, so both orders gave 1e16 and the
    // premise was untested). ulp(1e16) = 2.0; five 0.7s retain 3.5,
    // well past half-ulp: left-to-right each 0.7 vanishes (1e16), but
    // smalls-first 3.5 survives and rounds up to 1e16 + 4.
    val vals = Seq(1.0e16, 0.7, 0.7, 0.7, 0.7, 0.7)
    val leftToRight = vals.foldLeft(0.0)(_ + _)
    val smallsFirst = vals.tail.sum + vals.head
    assert(leftToRight == 1.0e16 && smallsFirst == 1.0000000000000004e16,
      s"premise broke: LTR=$leftToRight smallsFirst=$smallsFirst — " +
        "double order-sensitivity is no longer exercised")
    val sums = (1 to 4).map { n =>
      vals.toDF("v").repartition(n)
        .agg(sum($"v".cast("decimal(30,2)")).cast("double")).head().getDouble(0)
    }
    assert(sums.distinct.size == 1,
      s"decimal sum varied with partitioning: $sums")
    // exact decimal total 10000000000000003.50 -> nearest double is
    // 1e16 + 4 (spacing 2.0), regardless of partition count
    assert(sums.head == 1.0000000000000004e16)
  }
}
