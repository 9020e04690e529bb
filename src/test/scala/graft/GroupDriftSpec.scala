package graft

import graft.drift.{GroupDrift, KsTest}
import org.apache.spark.sql.functions._

/** Laws for stratified drift: the motivating masking case (opposite
  * per-group shifts net to a flat global ECDF), per-group parity with the
  * single-group KS, the bounded __other__ lump, and null handling.
  */
class GroupDriftSpec extends GraftSpec {
  import spark.implicits._

  // group "up" shifts +20 in the current window, group "dn" shifts −20 —
  // globally the mixture distribution is IDENTICAL across windows
  private lazy val masked = {
    val base = (0 until 400).flatMap { i =>
      Seq(("up", (i % 100).toDouble, true), ("dn", (i % 100).toDouble + 20, true))
    }
    val cur = (0 until 400).flatMap { i =>
      Seq(("up", (i % 100).toDouble + 20, false), ("dn", (i % 100).toDouble, false))
    }
    (base ++ cur).toDF("g", "v", "b")
  }

  test("per-group drift detected where the global test is blind") {
    val global = KsTest.ks2Samp(masked, "v", col("b"))
    assert(global.statistic === 0.0)          // mixture identical by design
    val rows = GroupDrift.ksMeanByGroup(masked, "g", "v", col("b"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getBoolean(8))).toMap
    assert(rows("up")._1 > 0.15 && rows("up")._2, s"up not flagged: $rows")
    assert(rows("dn")._1 > 0.15 && rows("dn")._2, s"dn not flagged: $rows")
  }

  test("per-group ks_stat and p equal the single-group KS on the filtered slice") {
    val out = GroupDrift.ksMeanByGroup(masked, "g", "v", col("b"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Seq("up", "dn").foreach { g =>
      val solo = KsTest.ks2Samp(masked.where(col("g") === g), "v", col("b"))
      assert(out(g)._1 === solo.statistic)
      assert(out(g)._2 === solo.pValue)
    }
  }

  test("groups beyond maxGroups lump into __other__ with total coverage") {
    // sizes genuinely differ (g0 150 > g1 100 > g2 50) so the maxGroups=2
    // cut exercises the BY-COUNT selection, not just the name tie-break
    val df = (0 until 300).map { i =>
      val g = if (i < 150) "g0" else if (i < 250) "g1" else "g2"
      (g, i.toDouble, i % 2 == 0)
    }.toDF("g", "v", "b")
    val out = GroupDrift.ksMeanByGroup(df, "g", "v", col("b"), maxGroups = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(6) + r.getLong(7))).toMap
    assert(out.keySet === Set("g0", "g1", GroupDrift.OtherGroup))
    assert(out.values.sum === 300L)           // every row lands in a lane
    // the lumped lane equals running the slice alone
    val solo = KsTest.ks2Samp(df.where(col("g") === "g2"), "v", col("b"))
    val other = GroupDrift.ksMeanByGroup(df, "g", "v", col("b"), maxGroups = 2)
      .where(col("group") === GroupDrift.OtherGroup)
      .select("ks_stat").as[Double].head()
    assert(other === solo.statistic)
  }

  test("null groups are excluded; null conditions sit on neither side") {
    val df = Seq(
      (Some("a"), 1.0, Some(true)), (Some("a"), 2.0, Some(false)),
      (None, 9.0, Some(true)),                 // null group → dropped
      (Some("a"), 9.0, None)                   // null condition → neither side
    ).toDF("g", "v", "b")
    val out = GroupDrift.ksMeanByGroup(df, "g", "v", col("b")).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getString(0) === "a" && r.getLong(6) === 1L && r.getLong(7) === 1L)
  }

  test("empty side yields KS 0 / p 1 and a null mean, not a crash") {
    val df = Seq(("a", 1.0, true), ("a", 2.0, true)).toDF("g", "v", "b")
    val r = GroupDrift.ksMeanByGroup(df, "g", "v", col("b")).collect().head
    assert(r.getDouble(1) === 0.0 && r.getDouble(2) === 1.0)
    assert(r.isNullAt(4) && !r.getBoolean(8))  // mean_cur null, not drifted
  }

  test("numeric group column: a count tie at the maxGroups cut breaks by the group's string form") {
    // group 1 leads outright; groups 9 and 10 tie at 40 rows for the last
    // slot. The cut orders by (count desc, group cast to string asc), so
    // "10" < "9" keeps 10 and lumps 9 into __other__ (raw integer order
    // would keep 9). Pins the ordering that ships: changing it could move
    // Verify output.
    val df = (0 until 140).map { i =>
      val g = if (i < 60) 1 else if (i < 100) 9 else 10
      (g, i.toDouble, i % 2 == 0)
    }.toDF("g", "v", "b")
    val out = GroupDrift.ksMeanByGroup(df, "g", "v", col("b"), maxGroups = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(6) + r.getLong(7))).toMap
    assert(out === Map("1" -> 60L, "10" -> 40L, GroupDrift.OtherGroup -> 40L))
  }
}
