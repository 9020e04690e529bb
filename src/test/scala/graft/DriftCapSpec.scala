package graft

import graft.drift.{Drift, DriftMath}
import org.apache.spark.sql.functions._

/** The categorical drift checks must stay driver-safe at ANY category
  * cardinality: every consumer collects at most topK+1 rows per column
  * (top-K by baseline count + one aggregated tail bucket). These tests pin
  * (a) equality with the uncapped formula below the cap (up to float
  * summation order — the capped path ranks categories differently), (b)
  * equality with the locally-computed CAPPED formula above it, and (c)
  * bounded completion with a correct verdict at 10^6 distinct categories.
  */
class DriftCapSpec extends GraftSpec {

  private val D = 20000 // distinct categories, far above the test cap

  /** base: every cat once; cur: every cat once + "c0" 1000 extra times. */
  private lazy val shifted = {
    val base = spark.range(D).select(concat(lit("c"), col("id")).as("cat"),
      lit(true).as("is_base"))
    val extra = spark.range(1000).select(lit("c0").as("cat"), lit(false).as("is_base"))
    val cur = spark.range(D).select(concat(lit("c"), col("id")).as("cat"),
      lit(false).as("is_base"))
    base.unionByName(cur).unionByName(extra)
  }

  /** The capped count table computed locally from the known construction:
    * rank by (c1 desc, c2 desc, value), keep topK, aggregate the tail.
    */
  private def localCapped(topK: Int): Seq[(Long, Long)] = {
    val names = (0 until D).map(i => s"c$i")
    val counts = names.map(n => (n, 1L, if (n == "c0") 1001L else 1L))
    val ranked = counts.sortBy { case (v, c1, c2) => (-c1, -c2, v) }
    val top = ranked.take(topK)
    val tail = ranked.drop(topK)
    top.map(t => (t._2, t._3)) :+ ((tail.map(_._2).sum, tail.map(_._3).sum))
  }

  test("psiCategorical above the cap equals the locally computed capped formula") {
    val topK = 100
    val got = Drift.psiCategorical(shifted, "cat", col("is_base"), topK = topK)
    val rows = localCapped(topK)
    val n1 = rows.map(_._1).sum.toDouble
    val n2 = rows.map(_._2).sum.toDouble
    val want = DriftMath.psi(rows.map(_._1 / n1), rows.map(_._2 / n2))
    assert(math.abs(got - want) < 1e-12, s"got $got want $want")
  }

  test("chiSquareCategorical above the cap equals the locally computed capped formula") {
    val topK = 100
    val (stat, p, dof) = Drift.chiSquareCategorical(shifted, "cat", col("is_base"), topK = topK)
    val rows = localCapped(topK)
    val n1 = rows.map(_._1).sum.toDouble
    val n2cov = rows.map(_._2).sum.toDouble
    val want = rows.map { case (c1, c2) =>
      val e = c1 / n1 * n2cov
      (c2 - e) * (c2 - e) / e
    }.sum
    // map-iteration order changes the float summation order: relative tol
    assert(math.abs(stat - want) / want < 1e-12, s"got $stat want $want")
    assert(dof == topK) // topK categories + tail bucket − 1
    val wantP = DriftMath.chiSquarePValue(want, topK)
    assert(math.abs(p - wantP) <= 1e-9, s"got $p want $wantP")
  }

  test("below the cap the capped path equals the uncapped formula (up to float summation order)") {
    // 6 categories — the suite's lang-like case
    val df = spark.range(6000).select(
      concat(lit("k"), pmod(col("id"), lit(6))).as("cat"),
      (col("id") % 2 === 0).as("is_base"))
    // uncapped reference computed directly from the full count table
    val rows = df.groupBy("cat").agg(
      sum(when(col("is_base"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("is_base"), 1L).otherwise(0L)).as("c2"))
      .orderBy("cat").collect()
    val n1 = rows.map(_.getLong(1)).sum.toDouble
    val n2 = rows.map(_.getLong(2)).sum.toDouble
    val wantPsi = DriftMath.psi(rows.map(_.getLong(1) / n1).toSeq,
      rows.map(_.getLong(2) / n2).toSeq)
    // the capped path sums categories in baseline-count-desc order, the
    // reference above in value order — identical terms, so equal up to
    // floating-point summation order only
    val got = Drift.psiCategorical(df, "cat", col("is_base"))
    assert(math.abs(got - wantPsi) <= 1e-12 * math.max(1.0, math.abs(wantPsi)),
      s"got $got want $wantPsi")
  }

  test("detect's salted melted top-K equals the locally computed capped formula above the cap") {
    // D=20000 categories with one shifted heavy hitter — above detect's
    // fixed CatTopK=1000, so the map-side top-K cut decides which
    // categories survive; a cut bug (dropped survivor, double-counted
    // tail) would change the statistic. (The name predates the cut's
    // move from a salted two-phase window to one top-K aggregate.)
    val names = (0 until D).map(i => s"c$i")
    val counts = names.map(n => (n, 1L, if (n == "c0") 1001L else 1L))
    val ranked = counts.sortBy { case (v, c1, c2) => (-c1, -c2, v) }
    val top = ranked.take(Drift.CatTopK)
    val tail = ranked.drop(Drift.CatTopK)
    val ref = (top.map(t => t._1 -> t._2) :+
      (Drift.OtherBucket -> tail.map(_._2).sum)).toMap
    val cur = (top.map(t => t._1 -> t._3) :+
      (Drift.OtherBucket -> tail.map(_._3).sum)).toMap
    val (wantStat, wantP, _) = Drift.chiSqGof(ref, cur)
    val rep = Drift.detect(shifted, Seq.empty, Seq("cat"), col("is_base"))
    val chi = rep.feature_drift.find(_.test == "chisq").get
    assert(math.abs(chi.statistic - wantStat) / wantStat < 1e-12,
      s"got ${chi.statistic} want $wantStat")
    assert(math.abs(chi.p_value - wantP) <= 1e-9, s"got ${chi.p_value} want $wantP")
  }

  test("melted category cut equals a row_number window reference, tail row iff > topK") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val topK = 4
    // (value, side): Some(true) baseline, Some(false) current, None a NULL
    // condition row that counts on neither side. "！x" and "𐀀x" tie on
    // (c1, c2) and sort one way by UTF-8 bytes, the other by UTF-16 units.
    // Column a has exactly topK categories (no tail row); column b has
    // topK + 1, and its tail is the NULL-only category, so it counts (0, 0).
    val a = Seq("！x" -> Seq(true, true, false), "𐀀x" -> Seq(true, false, true),
      "p" -> Seq(true, true, false, false, false)).flatMap { case (v, sides) =>
      sides.map(side => (v, Option(side)))
    } ++ Seq(("z", None), ("z", None))
    val b = Seq("m" -> Seq(true, true, true), "n" -> Seq(true, false),
      "o" -> Seq(false, true), "！x" -> Seq(true)).flatMap { case (v, sides) =>
      sides.map(side => (v, Option(side)))
    } ++ Seq(("𐀀x", None))
    val df = (a.map { case (v, s) => (Option(v), Option.empty[String], s) } ++
      b.map { case (v, s) => (Option.empty[String], Option(v), s) })
      .toDF("a", "b", "base")
    val w = Window.orderBy(col("c1").desc, col("c2").desc, col("v").asc)
    def reference(c: String): Seq[(String, Long, Long)] = {
      val ranked = df.where(col(c).isNotNull).groupBy(col(c).as("v"))
        .agg(sum(when(col("base"), 1L).otherwise(0L)).as("c1"),
          sum(when(!col("base"), 1L).otherwise(0L)).as("c2"))
        .withColumn("rn", row_number().over(w))
        .orderBy("rn").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      val (top, tail) = ranked.splitAt(topK)
      top ++ (if (tail.isEmpty) Nil
        else Seq((Drift.OtherBucket, tail.map(_._2).sum, tail.map(_._3).sum)))
    }
    val want = Map("a" -> reference("a"), "b" -> reference("b"))
    assert(want("a").map(_._1) == Seq("p", "！x", "𐀀x", "z"))
    assert(want("b").last == ((Drift.OtherBucket, 0L, 0L)))
    for (d <- Seq(df.coalesce(1), df.repartition(17))) {
      val got = Drift.meltedCatCounts(d, Seq("a", "b"), col("base"), topK)
      assert(got.map { case (c, rows) => c -> rows.toSeq } == want)
    }
  }

  test("a real category equal to the reserved tail sentinel fails loudly, not silently merged") {
    val df = spark.range(100).select(
      when(col("id") < 50, lit(Drift.OtherBucket)).otherwise(lit("ok")).as("cat"),
      (col("id") % 2 === 0).as("is_base"))
    val e1 = intercept[Exception] { Drift.psiCategorical(df, "cat", col("is_base")) }
    assert(e1.getMessage.contains("sentinel") ||
      Option(e1.getCause).exists(_.getMessage.contains("sentinel")), e1.getMessage)
    val e2 = intercept[Exception] {
      Drift.detect(df, Seq.empty, Seq("cat"), col("is_base"))
    }
    assert(e2.getMessage.contains("sentinel") ||
      Option(e2.getCause).exists(_.getMessage.contains("sentinel")), e2.getMessage)
  }

  test("Drift.detect at 10^6 distinct categories: bounded collect, no-drift verdict on identical sides") {
    val n = 1000000L
    // both sides carry the SAME 10^6-distinct distribution → any correct
    // capped formula must report zero drift; the point is that this returns
    // at all with a ≤(CatTopK+1)-row driver collect instead of 10^6 rows
    val df = spark.range(2 * n).select(
      concat(lit("c"), pmod(col("id"), lit(n))).as("cat"),
      (col("id") < n).as("is_base"),
      (col("id") % 97).cast("double").as("num"))
    val rep = Drift.detect(df, Seq("num"), Seq("cat"), col("is_base"))
    val chi = rep.feature_drift.find(_.test == "chisq").get
    assert(chi.statistic == 0.0)
    assert(chi.p_value == 1.0)
    assert(!chi.drift_detected)
  }

  test("NULL isBaseline condition rows land on NEITHER side (filter semantics)") {
    import spark.implicits._
    // the null-b row carries extreme values on every column: were it
    // counted on either side, each statistic below would shift
    val df = Seq(
      (Option(0L), 1.0, "a"), (Option(0L), 3.0, "a"), (Option(0L), 2.0, "b"),
      (Option(1L), 2.0, "b"), (Option(1L), 4.0, "a"), (Option(1L), 1.0, "b"),
      (Option.empty[Long], 99.0, "zzz")).toDF("b", "x", "c")
    val cond = col("b") === 0L // null b → NULL condition
    val filtered = df.where(col("b").isNotNull)
    assert(graft.drift.Drift.psiNumericMulti(df, Seq("x"), cond) ==
      graft.drift.Drift.psiNumericMulti(filtered, Seq("x"), cond))
    assert(graft.drift.Drift.psiCategoricalMulti(df, Seq("c"), cond) ==
      graft.drift.Drift.psiCategoricalMulti(filtered, Seq("c"), cond))
    assert(graft.drift.Drift.chiSquareCategoricalMulti(df, Seq("c"), cond) ==
      graft.drift.Drift.chiSquareCategoricalMulti(filtered, Seq("c"), cond))
    assert(graft.drift.KsTest.ks2SampMulti(df, Seq("x"), cond) ==
      graft.drift.KsTest.ks2SampMulti(filtered, Seq("x"), cond))
  }
}
