package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Contract pins for the r19 range-frame as-of formulation
  * (`e39dd78:Q37_PROBE_AB.json` promotion): the union + dedup + last(ignoreNulls)
  * shape guaranteed (1) inclusive `>=` tie semantics, (2) max-tiebreak
  * under duplicate right timestamps, (3) nulls before the first right
  * row — the struct-max range frame must preserve all three, and the
  * self-lookup form must let an anchor row see itself.
  */
class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("inclusive tie: a left row at exactly a right ts takes that row") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 100L), (1L, 99L)).toDF("k", "ts")
    val right = Seq((1L, 100L, 7.0, 1L)).toDF("k", "ts", "v", "tb")
    val out = AsOfJoin.leftAsOf(left, right, "k", "ts", "v", "tb")
      .orderBy("ts").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("asof_value")), "ts 99 < 100")
    assert(out(1).getDouble(out(1).fieldIndex("asof_value")) == 7.0,
      "ts 100 >= 100 — inclusive")
  }

  test("duplicate right timestamps resolve to the max-tiebreak row") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 100L), (1L, 200L)).toDF("k", "ts")
    val right = Seq(
      (1L, 100L, 1.0, 10L), (1L, 100L, 2.0, 30L), (1L, 100L, 3.0, 20L))
      .toDF("k", "ts", "v", "tb")
    val out = AsOfJoin.leftAsOf(left, right, "k", "ts", "v", "tb")
      .orderBy("ts").collect()
    out.foreach { r =>
      assert(r.getDouble(r.fieldIndex("asof_value")) == 2.0,
        s"tb 30 is max at ts 100: $r")
    }
  }

  test("later right rows override earlier ones; keys do not leak") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 150L), (1L, 250L), (2L, 250L)).toDF("k", "ts")
    val right = Seq((1L, 100L, 1.0, 1L), (1L, 200L, 2.0, 2L))
      .toDF("k", "ts", "v", "tb")
    val out = AsOfJoin.leftAsOf(left, right, "k", "ts", "v", "tb")
      .orderBy("k", "ts").collect()
    assert(out(0).getDouble(out(0).fieldIndex("asof_value")) == 1.0)
    assert(out(1).getDouble(out(1).fieldIndex("asof_value")) == 2.0)
    assert(out(2).isNullAt(out(2).fieldIndex("asof_value")),
      "key 2 has no right rows — no cross-key leak")
  }

  test("selfAsOf: an anchor row sees itself, equal-ts anchors max-tiebreak") {
    val s = spark
    import s.implicits._
    // rows: (k, ts, v, id, anchor?) — two anchors at ts 100 (ids 5, 9)
    val ev = Seq(
      (1L, 50L, 0.5, 1L, false),
      (1L, 100L, 1.0, 5L, true),
      (1L, 100L, 2.0, 9L, true),
      (1L, 100L, 0.0, 7L, false),
      (1L, 300L, 0.0, 12L, false))
      .toDF("k", "ts", "v", "id", "anchor")
    val out = AsOfJoin.selfAsOf(ev, col("anchor"), "k", "ts", "v", "id")
      .orderBy("id").collect()
    val byId = out.map(r => r.getLong(r.fieldIndex("id")) ->
      (if (r.isNullAt(r.fieldIndex("asof_value"))) None
       else Some(r.getDouble(r.fieldIndex("asof_value"))))).toMap
    assert(byId(1L).isEmpty, "before any anchor")
    // ALL rows at ts 100 (anchors 5, 9 and non-anchor 7) see the
    // max-tiebreak anchor at that ts — id 9, value 2.0: the range frame's
    // equal-ts inclusion means even anchor 5 resolves to anchor 9
    assert(byId(5L).contains(2.0) && byId(9L).contains(2.0)
      && byId(7L).contains(2.0))
    assert(byId(12L).contains(2.0), "carried forward")
  }
}
