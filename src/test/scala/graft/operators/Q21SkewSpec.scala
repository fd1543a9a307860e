package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-13: q21's self-correlation strategy is a cost-based choice
  * ([[RelationalQueries.q21Core]]) — semi/anti lineitem self-joins on a
  * normal key distribution, a single-shuffle distinct-supplier-count
  * pass under extreme order-key skew (where an SMJ key's residual scan
  * is O(left·right) within the key). This spec pins: (1) both forms
  * return IDENTICAL results on a fixture with a deliberately hot key,
  * (2) each form's plan shape (self-joins present/absent), (3) the
  * brute-force reference agrees with both.
  */
class Q21SkewSpec extends SparkSpec {
  import spark.implicits._

  // fixture: o1 → s1 waits (s2 present, s1 the only fault supplier);
  // o2 → both fault → anti kills both; o3 → single supplier → semi
  // kills it; o4 is the HOT key: 300 lines, s1 the only fault supplier
  // among 3 present → every s1 fault line in o4 counts toward numwait
  private val lines: Seq[(Long, Long, String)] =
    Seq((1L, 1L, "R"), (1L, 2L, "N"),
      (2L, 1L, "R"), (2L, 2L, "R"),
      (3L, 1L, "R")) ++
      (1 to 300).map(i => (4L, (i % 3 + 1).toLong,
        if (i % 3 == 0) "R" else "N"))

  private def frames() = {
    val l = lines.toDF("l_orderkey", "l_suppkey", "l_returnflag")
    val o = Seq(1L, 2L, 3L, 4L).toDF("o_orderkey")
    val suN = Seq((1L, "supp_1"), (2L, "supp_2"), (3L, "supp_3"))
      .toDF("s_suppkey", "s_name")
    (suN, o, l)
  }

  private def brute(): Map[String, Long] = {
    val byOrder = lines.groupBy(_._1)
    val names = Map(1L -> "supp_1", 2L -> "supp_2", 3L -> "supp_3")
    lines.filter(_._3 == "R").flatMap { case (ok, sk, _) =>
      val order = byOrder(ok)
      val semi = order.exists(_._2 != sk)
      val anti = !order.exists(r => r._3 == "R" && r._2 != sk)
      if (semi && anti) Some(names(sk)) else None
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("both q21 forms agree on a skewed fixture and match brute force") {
    val (suN, o, l) = frames()
    val selfJoin = RelationalQueries.q21Core(suN, o, l,
      skewMaxPerKey = Long.MaxValue)
    val countForm = RelationalQueries.q21Core(suN, o, l, skewMaxPerKey = -1L)
    val a = selfJoin.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = countForm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, s"forms diverged: $a vs $b")
    assert(a == brute(), s"vs brute: $a vs ${brute()}")
    // the fixture exercises every clause: s1 waits in o1 AND in o4's
    // 100 fault lines; o2 (two fault suppliers) and o3 (lone supplier)
    // contribute nothing
    assert(a == Map("supp_1" -> 101L))
  }

  test("the two regimes plan differently: self-joins vs one distinct pass") {
    val (suN, o, l) = frames()
    val pSelf = planOf(RelationalQueries.q21Core(suN, o, l,
      skewMaxPerKey = Long.MaxValue))
    assert(pSelf.contains("LeftSemi") && pSelf.contains("LeftAnti"),
      s"self-join form lost its semi/anti:\n${pSelf.take(1500)}")
    val pCount = planOf(RelationalQueries.q21Core(suN, o, l,
      skewMaxPerKey = -1L))
    assert(!pCount.contains("LeftSemi") && !pCount.contains("LeftAnti"),
      s"count form must not self-join:\n${pCount.take(1500)}")
  }

  test("the sampled hot-key gate picks the self-join form on TPC-H-shaped keys") {
    // real corpus: ≤ 7 lines per order — the default ceiling keeps the
    // self-join plan (and the oracle entry stays on the audited shape)
    val df = RelationalQueries.queries("q21_waiting_suppliers")(spark, sf0001)
    val plan = planOf(df)
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"))
  }

  test("the stat floor skips sampling on small frames; above it the stat is memoized") {
    val (suN, o, l) = frames()
    val hotKeyMemo = graft.Memo.hotKeys
    hotKeyMemo.evict()
    // below the floor (a 305-row fixture is nowhere near 1 GiB of leaf
    // input): building q21 must not touch the stat machinery at all —
    // this is what keeps PlanDump/bench-scale construction job-free
    RelationalQueries.q21Core(suN, o, l)
    assert(hotKeyMemo.isEmpty,
      "below-floor build ran the sampling stat")
    // force the stat path: one sample populates the (frame, key) memo…
    RelationalQueries.q21Core(suN, o, l, statMinBytes = 0L)
    assert(hotKeyMemo.size == 1)
    val memo = hotKeyMemo.values.iterator.next()
    // …and an identical rebuild reuses it (same entry, same value — the
    // per-run Bernoulli scan the round-13 bench paid is gone)
    RelationalQueries.q21Core(suN, o, l, statMinBytes = 0L)
    assert(hotKeyMemo.size == 1)
    assert(hotKeyMemo.values.iterator.next() == memo)
  }
}
