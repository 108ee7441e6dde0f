package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.{Cooccurrence, Transitions}

/** Market-basket co-occurrence and Markov-transition operators. */
class BehaviorOpsSpec extends SparkSpec {
  import spark.implicits._

  test("pairStats: hand-computed support/confidence/lift on 4 baskets") {
    // baskets: {x,y,z}, {x,y}, {x}, {w}; duplicates within a basket collapse
    val df = Seq(
      (1L, "x"), (1L, "y"), (1L, "z"), (1L, "x"),
      (2L, "x"), (2L, "y"),
      (3L, "x"),
      (4L, "w")
    ).toDF("bk", "itm")
    val got = Cooccurrence.pairStats(df, "bk", "itm")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
         r.getDouble(6), r.getDouble(7))).toMap
    assert(got.keySet == Set(("x", "y"), ("x", "z"), ("y", "z")))
    // x in 3 baskets, y in 2, z in 1; N = 4
    val (nXY, nX, nY, supXY, confXY, liftXY) = got(("x", "y"))
    assert(nXY == 2 && nX == 3 && nY == 2)
    assert(supXY == 2.0 / 4 && confXY == 2.0 / 3)
    assert(liftXY == 2.0 * 4 / (3 * 2))
    val (nYZ, _, nZ, _, _, liftYZ) = got(("y", "z"))
    assert(nYZ == 1 && nZ == 1 && liftYZ == 1.0 * 4 / (2 * 1))
  }

  test("pairStats: oversized baskets dropped, N shrinks accordingly") {
    val big = (1 to 10).map(i => (99L, s"i$i"))
    val df = (Seq((1L, "a"), (1L, "b"), (2L, "a")) ++ big).toDF("bk", "itm")
    val got = Cooccurrence.pairStats(df, "bk", "itm", maxBasketSize = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    assert(got.keySet == Set(("a", "b")))  // the 10-item basket contributes no pairs
    assert(got(("a", "b")) == 1.0 / 2)     // N = 2 surviving baskets
    intercept[IllegalArgumentException] {
      Cooccurrence.pairStats(df, "bk", "itm", maxBasketSize = 1)
    }
  }

  test("pairStats: hashSelfJoin path agrees with the sort-merge form") {
    // includes an oversized basket so the gated-collect path (meta action
    // + isInCollection filter) is exercised, not just N
    val big = (1 to 10).map(i => (99L, s"i$i"))
    val df = (Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a")) ++ big)
      .toDF("bk", "itm")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
         r.getDouble(6), r.getDouble(7))).toMap
    val base = norm(Cooccurrence.pairStats(df, "bk", "itm", maxBasketSize = 5))
    // a,b pair in baskets 1 and 2; a alone in 3; N = 3 (basket 99 dropped)
    assert(base == Map(("a", "b") -> ((2L, 3L, 2L, 2.0 / 3, 2.0 / 3, 2.0 * 3 / (3 * 2)))))
    val hash = norm(Cooccurrence.pairStats(df, "bk", "itm", maxBasketSize = 5,
      hashSelfJoin = true))
    assert(hash == base)
  }

  test("pairStats: NULL basket keys count in item totals when offenders coexist") {
    // The offender filter once used a bare !isInCollection, which is NULL
    // for a NULL __bk row and silently DROPPED the whole NULL basket
    // (NULL never equi-matches an offender key, so it must stay). Pinned
    // on the exact shape that dropped it: oversized offender + NULL
    // basket id.
    def jl(x: Long) = java.lang.Long.valueOf(x)
    val big = (1 to 10).map(i => (jl(99L), s"i$i"))
    val df = (Seq((jl(1L), "a"), (jl(1L), "b"),
      (null.asInstanceOf[java.lang.Long], "a"),
      (null.asInstanceOf[java.lang.Long], "b")) ++ big).toDF("bk", "itm")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val got = norm(Cooccurrence.pairStats(df, "bk", "itm", maxBasketSize = 5))
    // the NULL basket can never PAIR (its __bk fails the equi self-join, as
    // in SQL) but its rows DO count in the per-item totals — so n_ab=1
    // (basket 1 only) while n_a=n_b=2 (baskets {1, NULL}); the bare
    // negation reported n_a=n_b=1 here
    assert(got(("a", "b")) == ((1L, 2L, 2L)))
  }

  test("transitions: hand-computed chain with tie-break and last-event drop") {
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      // u1: a -> b -> a ; u2: a -> c ; u3: only one event (no transition)
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 11:00:00"), 2L, "b"),
      (1L, ts("2024-01-01 12:00:00"), 3L, "a"),
      (2L, ts("2024-01-02 10:00:00"), 4L, "a"),
      (2L, ts("2024-01-02 11:00:00"), 5L, "c"),
      (3L, ts("2024-01-03 10:00:00"), 6L, "b")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Transitions.matrix(df, "user_id", "ts", "event_type", col("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got == Map(
      ("a", "b") -> ((1L, 2L, 0.5)),
      ("a", "c") -> ((1L, 2L, 0.5)),
      ("b", "a") -> ((1L, 1L, 1.0))))
  }

  test("transitions: same-timestamp events ordered by tie-break deterministically") {
    def ts(s: String) = Timestamp.valueOf(s)
    val t0 = ts("2024-01-01 10:00:00")
    val df = Seq(
      (1L, t0, 2L, "b"), (1L, t0, 1L, "a"), (1L, t0, 3L, "c")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val got = Transitions.matrix(df, "user_id", "ts", "event_type", col("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a", "b"), ("b", "c"))) // event_id order: a, b, c
    // rows normalize: per from_state, probabilities sum to 1
    val sums = Transitions.matrix(df, "user_id", "ts", "event_type", col("event_id"))
      .groupBy("from_state").agg(sum("p").as("sp")).collect().map(_.getDouble(1))
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-12))
  }
}
