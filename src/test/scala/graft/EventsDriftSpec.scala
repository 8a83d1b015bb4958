package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Drift, Events, TextAnalysis}

/** Golden tests for the event-analytics (qX_funnel/qX_retention/
  * qX_transitions/qX_outliers) and drift (qX_psi/qX_ks) operators,
  * plus χ² feature selection (qX_chi2). */
class EventsDriftSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("funnel: ordering, window expiry and step-skipping all enforced") {
    // u1 converts fully; u2 stops at view; u3 views BEFORE signup (not
    // a conversion); u4 purchases without a view (skip not allowed);
    // u5's view lands after the 7-day anchor window.
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00"), "signup"),
      (1L, ts("2024-01-02 10:00:00"), "view"),
      (1L, ts("2024-01-03 10:00:00"), "purchase"),
      (2L, ts("2024-01-01 10:00:00"), "signup"),
      (2L, ts("2024-01-02 10:00:00"), "view"),
      (3L, ts("2024-01-01 09:00:00"), "view"),
      (3L, ts("2024-01-01 10:00:00"), "signup"),
      (4L, ts("2024-01-01 10:00:00"), "signup"),
      (4L, ts("2024-01-02 10:00:00"), "purchase"),
      (5L, ts("2024-01-01 10:00:00"), "signup"),
      (5L, ts("2024-01-09 10:00:01"), "view")
    ).toDF("user_id", "ts", "event_type")
    val got = Events.funnel(e, "user_id", "ts", "event_type",
        Seq("signup", "view", "purchase"), "7 DAYS")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, "signup", 5L), (2, "view", 2L),
      (3, "purchase", 1L)))
  }

  test("funnel: later cheaper step-1 anchor does not resurrect a conversion") {
    // step-2 event between two step-1 events counts only against the
    // FIRST anchor (min-fold semantics).
    val e = Seq(
      (1L, ts("2024-01-05 10:00:00"), "signup"),
      (1L, ts("2024-01-04 10:00:00"), "view"), // before the anchor
      (1L, ts("2024-01-06 10:00:00"), "signup")
    ).toDF("user_id", "ts", "event_type")
    val got = Events.funnel(e, "user_id", "ts", "event_type",
        Seq("signup", "view"), "7 DAYS")
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(got.toSeq == Seq((1, 1L), (2, 0L)))
  }

  test("retention: Monday cohorts, offsets, distinct actives") {
    // u1 first event Tue Jan 2 (cohort Mon Jan 1), active again weeks
    // 1 and 2 (twice in week 2 — counted once); u2 cohort Jan 8, no
    // return.
    val e = Seq(
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-08 10:00:00")),
      (1L, ts("2024-01-15 10:00:00")), (1L, ts("2024-01-16 11:00:00")),
      (2L, ts("2024-01-08 09:00:00"))
    ).toDF("user_id", "ts")
    val got = Events.retentionCohorts(e, "user_id", "ts", 8)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq == Seq(
      ("2024-01-01", 0L, 1L, 1L, 1000000L),
      ("2024-01-01", 1L, 1L, 1L, 1000000L),
      ("2024-01-01", 2L, 1L, 1L, 1000000L),
      // u1 is also active in u2's cohort week but belongs to the
      // earlier cohort — activity joins on the USER's own cohort
      ("2024-01-08", 0L, 1L, 1L, 1000000L)))
  }

  test("transitions: lag pairs, tie-break, row-normalized micros") {
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a", 1L),
      (1L, ts("2024-01-01 11:00:00"), "b", 2L),
      (1L, ts("2024-01-01 12:00:00"), "a", 3L),
      (1L, ts("2024-01-01 12:00:00"), "c", 4L), // tie → event_id order
      (2L, ts("2024-01-01 10:00:00"), "a", 5L),
      (2L, ts("2024-01-01 11:00:00"), "b", 6L)
    ).toDF("user_id", "ts", "event_type", "event_id")
    val got = Events.transitionMatrix(e, "user_id", "ts", "event_type",
        Seq("event_id"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", "b", 2L, 666666L), ("a", "c", 1L, 333333L),
      ("b", "a", 1L, 1000000L)))
  }

  test("outliers: doubled median/MAD are exact, Hampel flag fires") {
    // g: values 1..5 plus 100 → med of quantized = 3.5e6 (med2 = 7e6),
    // adevs2/2e6 = {2.5, 1.5, .5, .5, 1.5, 96.5} → MAD = 1.5e6
    // (mad4 = 6e6); outlier iff |v − 3.5e6| > 4.5e6 → only 100.
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0),
      ("g", 5.0), ("g", 100.0)).toDF("k", "v")
    val got = Events.robustOutliers(df, "k", "v").collect().head
    assert((got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) == ((6L, 7000000L, 6000000L, 1L)))
  }

  test("psi: identical samples → zero terms; disjoint mass → positive") {
    val a = Seq.tabulate(100)(i => i % 10 * 1.0).toDF("v")
    val same = Drift.psi(a, a, "v", 0.0, 10.0, 10).collect()
    assert(same.forall(_.getLong(3) == 0L))
    val lo = Seq.fill(100)(1.0).toDF("v")
    val hi = Seq.fill(100)(8.0).toDF("v")
    val shifted = Drift.psi(lo, hi, "v", 0.0, 10.0, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(shifted(-1L) > 4000000L) // massively shifted
    assert(shifted(1L) > 0L && shifted(8L) > 0L)
  }

  test("psi: out-of-range values clamp into edge bins") {
    val a = Seq(-5.0, 100.0).toDF("v")
    val bins = Drift.psi(a, a, "v", 0.0, 10.0, 4)
      .filter(col("bin") >= 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bins == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("prototypes: exact micro means; separable clusters classify perfectly") {
    import graft.operators.Similarity
    // two axis-aligned clusters: label 0 near e1, label 1 near e2
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.0f, 1.0f), 1), (4L, Seq(0.1f, 0.9f), 1)
    ).toDF("id", "v", "label")
    val protos = Similarity.classPrototypes(pts, "v", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(protos((0, 1)) == 950000L && protos((0, 2)) == 50000L)
    assert(protos((1, 1)) == 50000L && protos((1, 2)) == 950000L)
    val acc = Similarity.prototypeAccuracy(pts, "id", "v", "label")
      .collect().head
    assert((acc.getLong(0), acc.getLong(1), acc.getLong(2)) ==
      ((4L, 4L, 1000000L)))
  }

  test("sceneCuts: hash discontinuities only, maxDist tolerance respected") {
    import graft.operators.Multimodal
    val frames = Seq((1L, 0, 5L), (1L, 1, 5L), (1L, 2, 6L), (1L, 3, 6L),
      (1L, 4, 9L), (2L, 0, 7L), (2L, 1, 7L))
      .toDF("id", "frame_no", "dhash")
    val got = Multimodal.sceneCuts(frames, maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.toSeq == Seq((1L, 2), (1L, 4)))
    // 5→6 flips two bits (101→110), 6→9 flips three; maxDist=2 keeps
    // only the 3-bit jump
    assert(Multimodal.sceneCuts(frames, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 4)))
  }

  test("assoc rules: directed confidence, shared lift, support floor") {
    import graft.operators.Assoc
    val b = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (3L, "x"),
      (3L, "z"), (4L, "w")).toDF("b", "i")
    val got = Assoc.rules(b, "b", "i", minSupport = 2L, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // x→y: conf 2/3; y→x: conf 1; lift both 2·4/(3·2); (x,z) pruned
    assert(got.toSeq == Seq(
      ("x", "y", 2L, 500000L, 666666L, 1333333L),
      ("y", "x", 2L, 500000L, 1000000L, 1333333L)))
  }

  test("array_combos equals the transform/slice/flatten HOF twin") {
    import graft.functions.expr.TextExprs
    val rnd = new scala.util.Random(11)
    // longs (the lineitem gate's type) incl. empty and singleton arrays
    val longArrs = Seq(Seq.empty[Long], Seq(7L)) ++
      (1 to 60).map(_ => Seq.fill(rnd.nextInt(12))(rnd.nextLong()).sorted)
    val hof = expr(
      "flatten(transform(items, (x, k) -> " +
        "transform(slice(items, k + 2, size(items) - k - 1), " +
        "y -> named_struct('i', x, 'j', y))))")
    val dl = longArrs.toDF("items")
      .select(hof.as("h"), TextExprs.array_combos(col("items")).as("e"))
    assert(dl.filter(col("h") =!= col("e")).isEmpty)
    // strings (the engine API path)
    val strArrs = (1 to 40).map(_ =>
      Seq.fill(rnd.nextInt(8))(rnd.nextInt(20).toString).distinct.sorted)
    val ds = strArrs.toDF("items")
      .select(hof.as("h"), TextExprs.array_combos(col("items")).as("e"))
    assert(ds.filter(col("h") =!= col("e")).isEmpty)
    // codegen path actually compiles (no CodegenFallback exception)
    assert(dl.count() == 62 && ds.count() == 40)
  }

  test("array_combos_tagged equals combos ++ singles ++ marker") {
    import graft.functions.expr.TextExprs
    val rnd = new scala.util.Random(13)
    val longArrs = Seq(Seq.empty[Long], Seq(7L)) ++
      (1 to 60).map(_ => Seq.fill(rnd.nextInt(12))(rnd.nextLong()).sorted)
    // spec: the plain pair expansion, then (e, null) per element, then
    // one (null, null) basket marker — exactly the tagged layout
    val spec = expr(
      "concat(" +
        "flatten(transform(items, (x, k) -> " +
        "transform(slice(items, k + 2, size(items) - k - 1), " +
        "y -> named_struct('i', x, 'j', y)))), " +
        "transform(items, x -> named_struct('i', x, 'j', cast(null as bigint))), " +
        "array(named_struct('i', cast(null as bigint), 'j', cast(null as bigint))))")
    val dl = longArrs.toDF("items")
      .select(spec.as("h"), TextExprs.array_combos_tagged(col("items")).as("e"))
    assert(dl.filter(not(col("h") <=> col("e"))).isEmpty)
    assert(dl.count() == 62) // codegen path compiles
  }

  test("array_combos_tagged skips null elements: one basket marker, no null-sided pair") {
    import graft.functions.expr.TextExprs
    val rows = Seq(Seq[java.lang.Long](1L, null, 2L)).toDF("items")
      .select(explode(TextExprs.array_combos_tagged(col("items"))).as("p"))
      .select(col("p.i"), col("p.j"))
    val got = rows.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got.sortBy(_.toString) == Seq((Some(1L), Some(2L)), (Some(1L), None),
      (Some(2L), None), (None, None)).sortBy(_.toString), got)
  }

  test("assoc rules: the set-table exchange is reused, not checkpointed") {
    import graft.operators.Assoc
    val b = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"))
      .toDF("b", "i")
    val df = Assoc.rules(b, "b", "i", 1L, 5)
    df.collect() // AQE materializes stage reuse only at runtime
    val plan = df.queryExecution.executedPlan.toString
    // the basket-set agg and the counted-pair table each feed
    // multiple consumers through one reused exchange
    assert(plan.contains("ReusedExchange"),
      s"expected a reused exchange in:\n$plan")
  }

  test("zipfFit: exact power law recovers its exponent") {
    import graft.operators.TextAnalysis
    // corpus engineered so freq(rank r) = 64/r for tokens t1..t8:
    // slope of ln f ~ ln r is exactly -1
    val docs = (1 to 8).flatMap(r =>
      Seq.fill(64 / r)(s"t$r")).map(Tuple1(_)).toDF("text")
    val got = TextAnalysis.zipfFit(docs, "text", topN = 8).collect().head
    assert(got.getLong(0) == 8L)
    assert(math.abs(got.getLong(1) + 1000000L) < 25000L,
      s"slope ${got.getLong(1)}") // -1 up to ln-rounding of 64/3, 64/7…
  }

  test("cusum: identity matches the sequential recurrence; shift alarms") {
    import graft.operators.Drift
    // 6 days: stable at 10, then a jump to 20 for the last 3 days
    val e = (1 to 6).flatMap { d =>
      val v = if (d <= 3) 10.0 else 20.0
      Seq((ts(f"2024-01-0$d%01d 10:00:00"), v))
    }.toDF("t", "v")
    val got = Drift.cusum(e, "t", "v", slackMicros = 0L,
        thresholdMicros = 7000000L)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(3)))
    // ref = 15e6; devs = -5e6 ×3 then +5e6 ×3 →
    // S = 0,0,0,5e6,10e6,15e6; alarms from day 5
    assert(got.map(_._2).toSeq ==
      Seq(0L, 0L, 0L, 5000000L, 10000000L, 15000000L))
    assert(got.map(_._3).toSeq ==
      Seq(false, false, false, false, true, true))
  }

  test("longestStreaks: gaps-and-islands finds the 3-day run") {
    import graft.operators.Events
    // user 1 active on days 1,2,3 and 5,6 -> best 3 of 5 active days;
    // user 2 one day
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-02 10:00:00")),
      (1L, ts("2024-01-03 10:00:00")), (1L, ts("2024-01-05 10:00:00")),
      (1L, ts("2024-01-06 10:00:00")), (1L, ts("2024-01-06 11:00:00")),
      (2L, ts("2024-01-01 10:00:00"))).toDF("u", "t")
    val got = Events.longestStreaks(e, "u", "t", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 5L, 3L), (2L, 1L, 1L)))
  }

  test("westernElectric: flat series silent; 8-below run trips R4") {
    import graft.operators.Drift
    val flat = (1 to 4).map(d => (ts(f"2024-01-0$d%01d 10:00:00"), 5.0))
      .toDF("t", "v")
    val f = Drift.westernElectric(flat, "t", "v").collect()
    assert(f.forall(r => !r.getBoolean(3) && !r.getBoolean(4) &&
      !r.getBoolean(5) && !r.getBoolean(6)))
    // 8 days at 10 then one at 20: days 1-8 sit just below center ->
    // R4 fires on day 8; day 9 lands in zone 2, nothing else trips
    val e = ((1 to 8).map(d => (ts(f"2024-01-0$d%01d 10:00:00"), 10.0))
      :+ ((ts("2024-01-09 10:00:00"), 20.0))).toDF("t", "v")
    val got = Drift.westernElectric(e, "t", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getBoolean(3), r.getBoolean(6))).toMap
    assert(got("2024-01-08") == ((0L, false, true)), "R4 on day 8")
    assert(got("2024-01-09")._1 == 2L && !got("2024-01-09")._3)
  }

  test("weekOverWeek: growth against the previous week, first NULL") {
    import graft.operators.Events
    // week of Jan 1 (Mon): 2 events; week of Jan 8: 3 -> +50%
    val e = Seq(ts("2024-01-02 10:00:00"), ts("2024-01-03 10:00:00"),
      ts("2024-01-09 10:00:00"), ts("2024-01-10 10:00:00"),
      ts("2024-01-11 10:00:00")).toDF("t")
    val got = Events.weekOverWeek(e, "t").collect()
    assert(got.length == 2)
    assert(got(0).isNullAt(3) && got(0).getLong(1) == 2L)
    assert(got(1).getLong(1) == 3L && got(1).getLong(3) == 500000L)
  }

  test("relativeRisk: hand 2x2 — RR and OR exact") {
    import graft.operators.Events
    // a=2 b=2 c=1 d=3: RR = (2/4)/(1/4) = 2; OR = 6/2 = 3
    val df = Seq((1L, 1L), (1L, 1L), (1L, 0L), (1L, 0L),
      (0L, 1L), (0L, 0L), (0L, 0L), (0L, 0L)).toDF("e", "y")
    val r = Events.relativeRisk(df, "e", "y").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) ==
      ((2L, 2L, 1L, 3L, 2000000L, 3000000L)))
  }

  test("firstTouch: earliest event per user decides the entry mix") {
    import graft.operators.Events
    val e = Seq(
      (1L, ts("2024-01-01 11:00:00"), "B", 2L),
      (1L, ts("2024-01-01 10:00:00"), "A", 1L),
      (2L, ts("2024-01-01 09:00:00"), "B", 3L)).toDF("u", "t", "et", "eid")
    val got = Events.firstTouch(e, "u", "t", "et", "eid")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map("A" -> ((1L, 500000L)), "B" -> ((1L, 500000L))))
  }

  test("activityGrid: weekday-hour cells carry exact shares") {
    import graft.operators.Events
    // 2024-01-01 is a Monday (weekday 2); two cells 2:1
    val e = Seq(ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"),
      ts("2024-01-01 11:00:00")).toDF("t")
    val got = Events.activityGrid(e, "t")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map((2L, 10L) -> ((2L, 666666L)),
      (2L, 11L) -> ((1L, 333333L))))
  }

  test("leadLagCorr: linearly shifted series is perfectly correlated") {
    import graft.operators.Events
    // clicks 1,2,3,4 on days 1-4; purchases 1,2,3 on days 2-4
    val rows = (1 to 4).flatMap { d =>
      (1 to d).map(h => (ts(f"2024-01-0$d%01d 0$h:00:00"), "click"))
    } ++ (2 to 4).flatMap { d =>
      (1 to (d - 1)).map(h =>
        (ts(f"2024-01-0$d%01d 1$h:00:00"), "purchase"))
    }
    val e = rows.toDF("t", "et")
    val got = Events.leadLagCorr(e, "t", "et", "click", "purchase", 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(0L) == ((4L, 1000000L)))
    assert(got(1L) == ((3L, 1000000L)))
  }

  test("audienceChurn: early {1,2,3} vs late {2,3,4}") {
    import graft.operators.Events
    val cut = ts("2024-01-16 00:00:00")
    val e = Seq(
      (1L, ts("2024-01-10 10:00:00")), (2L, ts("2024-01-11 10:00:00")),
      (3L, ts("2024-01-12 10:00:00")), (2L, ts("2024-01-20 10:00:00")),
      (3L, ts("2024-01-21 10:00:00")), (4L, ts("2024-01-22 10:00:00")))
      .toDF("u", "t")
    val cutUs = cut.getTime * 1000L
    val r = Events.audienceChurn(e, "u", "t", cutUs).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) ==
      ((3L, 3L, 2L, 500000L, 333333L, 333333L)))
  }

  test("dailyMovers: biggest per-type day-over-day deltas first") {
    import graft.operators.Events
    val e = Seq(
      ("A", ts("2024-01-01 10:00:00")), ("A", ts("2024-01-01 11:00:00")),
      ("A", ts("2024-01-02 10:00:00")), ("A", ts("2024-01-02 11:00:00")),
      ("A", ts("2024-01-02 12:00:00")), ("A", ts("2024-01-02 13:00:00")),
      ("A", ts("2024-01-02 14:00:00")),
      ("B", ts("2024-01-01 10:00:00")), ("B", ts("2024-01-02 10:00:00")))
      .toDF("et", "t")
    val got = Events.dailyMovers(e, "t", "et", 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("A", "2024-01-02", 5L, 2L, 3L), ("A", "2024-01-01", 2L, 0L, 2L),
      ("B", "2024-01-01", 1L, 0L, 1L), ("B", "2024-01-02", 1L, 1L, 0L)))
  }

  test("dispersionIndex: 1-and-3 day counts give D = 1") {
    import graft.operators.Events
    val e = Seq(ts("2024-01-01 10:00:00"), ts("2024-01-02 10:00:00"),
      ts("2024-01-02 11:00:00"), ts("2024-01-02 12:00:00")).toDF("t")
    val r = Events.dispersionIndex(e, "t").head()
    // counts 1,3: mean 2, var 2 -> D = 1
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2000L, 2000L, 1000000L)))
  }

  test("emd1d: full 9-bin shift costs 9 bin-steps of mass") {
    import graft.operators.Drift
    val a = Seq(10.0, 10.0).toDF("v")
    val b = Seq(490.0, 490.0).toDF("v")
    val r = Drift.emd1d(a, b, "v", 0.0, 500.0, 10).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((2L, 2L, 9000000L)))
  }

  test("sessionCooccur: one shared sitting out of three sessions") {
    import graft.operators.Events
    // u1: session {A,B}, later session {A}; u2: session {B}
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00"), "A", 1L),
      (1L, ts("2024-01-01 10:10:00"), "B", 2L),
      (1L, ts("2024-01-01 12:00:00"), "A", 3L),
      (2L, ts("2024-01-01 10:00:00"), "B", 4L)).toDF("u", "t", "et", "eid")
    val r = Events.sessionCooccur(e, "u", "t", "et", "eid",
      gapUs = 30L * 60L * 1000000L).head()
    // lift = (1/3)/((2/3)(2/3)) = 0.75
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == (("A", "B", 1L, 2L, 2L, 750000L)))
  }

  test("powerMde: hand moments — required n and MDE from the z literal") {
    import graft.operators.Stats
    // a={1,3}, b={5,7}: sp2=2e6 milli^2, delta=-4000 milli ->
    // n_req = ceil(2*z^2*sp2/16e6) = 2; mde = floor(z*sqrt(2e6)) = 3962
    val a = Seq(1.0, 3.0).toDF("v")
    val b = Seq(5.0, 7.0).toDF("v")
    val r = Stats.powerMde(a, b, "v").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 2L, -4000L, 2L, 3962L)))
  }

  test("changepoint: level shift found at the true split day") {
    import graft.operators.Drift
    val e = (1 to 6).flatMap { d =>
      val v = if (d <= 3) 10.0 else 20.0
      Seq((ts(f"2024-01-0$d%01d 10:00:00"), v))
    }.toDF("t", "v")
    val r = Drift.changepoint(e, "t", "v").head()
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (("2024-01-03", 3L, 3L, 10000000L)))
  }

  test("pageHinkley: running-mean drawup matches hand math; shift alarms") {
    import graft.operators.Drift
    // 10,10,10 then 20,20,20: run means 10,10,10,12.5,14,15 →
    // terms 0,0,0,7.5e6,6e6,5e6; m cum 0,0,0,7.5e6,13.5e6,18.5e6;
    // min m = 0 → ph = m
    val e = (1 to 6).flatMap { d =>
      val v = if (d <= 3) 10.0 else 20.0
      Seq((ts(f"2024-01-0$d%01d 10:00:00"), v))
    }.toDF("t", "v")
    val got = Drift.pageHinkley(e, "t", "v", slackMicros = 0L,
        thresholdMicros = 7000000L)
      .collect().map(r => (r.getLong(2), r.getBoolean(3)))
    assert(got.map(_._1).toSeq ==
      Seq(0L, 0L, 0L, 7500000L, 13500000L, 18500000L))
    assert(got.map(_._2).toSeq ==
      Seq(false, false, false, true, true, true))
  }

  test("stationaryDistribution: 4-round power iteration matches hand trace") {
    import graft.operators.Events
    // chain A,A,B,A: P(A→A)=P(A→B)=1/2, P(B→A)=1 — true π_A = 2/3;
    // hand trace with per-term floors: (656250, 343750) after 4 rounds
    val e = Seq(
      (1L, ts("2024-01-01 01:00:00"), "A", 1L),
      (1L, ts("2024-01-01 02:00:00"), "A", 2L),
      (1L, ts("2024-01-01 03:00:00"), "B", 3L),
      (1L, ts("2024-01-01 04:00:00"), "A", 4L)).toDF("u", "t", "et", "eid")
    val got = Events.stationaryDistribution(e, "u", "t", "et",
        Seq("eid"), rounds = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> 656250L, "B" -> 343750L))
  }

  test("gainCurve: top-bin captures all positives, lift exact") {
    import graft.operators.Eval
    val df = Seq((4L, 1L, 1L), (3L, 1L, 2L), (2L, 0L, 3L), (1L, 0L, 4L))
      .toDF("s", "y", "id")
    val got = Eval.gainCurve(df, "s", "y", "id", bins = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got == Map(
      0L -> ((2L, 2L, 2L, 1000000L, 2000000L)),
      1L -> ((2L, 0L, 2L, 1000000L, 1000000L))))
  }

  test("acf: alternating series — negative lag-1, positive lag-2, exact micros") {
    import graft.operators.Drift
    // daily counts (1,3,1,3): a = (-4,4,-4,4), den = 64;
    // lag1 num = -48 → -750000; lag2 num = 32 → 500000; lag3 → -250000
    val e = Seq(1, 3, 1, 3).zipWithIndex.flatMap { case (c, d) =>
      (1 to c).map(i => ts(f"2024-01-0${d + 1}%01d 0$i:00:00"))
    }.toDF("t")
    val got = Drift.acf(e, "t", maxLag = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 3L, -750000L), (2L, 2L, 500000L),
      (3L, 1L, -250000L)))
  }

  test("readability: hand Flesch counts — words, sentences, vowel-group syllables") {
    import graft.operators.TextAnalysis
    // "the cat sat. it ran!": W=5, S=2, Y=5 →
    // 206.835 − 1.015·2.5 − 84.6·1 = 119.6975
    val docs = Seq((1L, "the cat sat. it ran!"), (2L, "xyzzy aeiou"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((5L, 2L, 5L, 119697500L)))
    // xyzzy → groups (y, y) = 2 syllables; aeiou → 1; one sentence floor
    val (w2, s2, y2, _) = got(2L)
    assert((w2, s2, y2) == ((2L, 1L, 3L)))
    assert(!got.contains(3L), "token-free doc absent")
  }

  test("rfm: quintile scores ride the exact distributed rank, 111 to 444") {
    import graft.operators.Events
    // three users strictly ordered on all three metrics; n=3 →
    // quintiles floor(5(r−1)/3)+1 = 1, 2, 4
    val e = (Seq((1L, ts("2024-01-01 10:00:00"), 1.0)) ++
      (1 to 2).map(i => (2L, ts(s"2024-01-02 0$i:00:00"), 2.0)) ++
      (1 to 3).map(i => (3L, ts(s"2024-01-03 0$i:00:00"), 3.0)))
      .toDF("user_id", "t", "v")
    val got = Events.rfm(e, "user_id", "t", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(7)).toMap
    assert(got == Map(1L -> 111L, 2L -> 222L, 3L -> 444L))
  }

  test("stickiness: DAU/MAU hand ratio") {
    import graft.operators.Events
    // one month: day1 actives {1,2}, day2 actives {1} → sum_dau 3,
    // n_days 2, mau 2 → ⌊1e6·3/4⌋
    val e = Seq((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-02 12:00:00")))
      .toDF("user_id", "t")
    val r = Events.stickiness(e, "user_id", "t").collect()
    assert(r.length == 1)
    assert((r.head.getString(0), r.head.getLong(1), r.head.getLong(2),
      r.head.getLong(3), r.head.getLong(4)) ==
      (("2024-01", 2L, 3L, 2L, 750000L)))
  }

  test("kaplanMeier: churn steps with final-day censoring") {
    import graft.operators.Events
    // last active days: u1,u2 → d1; u3 → d2; u4 → d3 (max ⇒ censored)
    val e = Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-02"),
      (4L, "2024-01-03")).map { case (u, d) => (u, ts(s"$d 10:00:00")) }
      .toDF("user_id", "t")
    val got = Events.kaplanMeier(e, "user_id", "t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4)))
    // S: 4→2 at d1 (½ → 500000), 2→1 at d2 (¼ → 250000), flat at d3
    assert(got.toSeq == Seq(("2024-01-01", 4L, 2L, 500000L),
      ("2024-01-02", 2L, 1L, 250000L), ("2024-01-03", 1L, 0L, 250000L)))
  }

  test("centroidDrift: orthogonal slices cos 0 gap 2e6, identical slices cos 1e6") {
    import graft.operators.Drift
    val a = Seq(Seq(1f, 0f), Seq(1f, 0f)).toDF("embedding")
    val b = Seq(Seq(0f, 1f)).toDF("embedding")
    val r = Drift.centroidDrift(a, b, "embedding").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 0L, 2000000L)))
    val same = Drift.centroidDrift(a, a, "embedding").collect().head
    assert((same.getLong(2), same.getLong(3)) == ((1000000L, 0L)))
  }

  test("keepBest: highest score survives, id tiebreak, singleton clusters") {
    import graft.operators.Dedup
    val cl = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 4L))
      .toDF("doc_id", "cluster")
    val sc = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L))
      .toDF("doc_id", "n_toks")
    val got = Dedup.keepBest(cl, sc, "doc_id", "n_toks")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // cluster 10: docs 2 and 3 tie at 9 → lower id 2 survives
    assert(got.toSeq == Seq((4L, 4L, 1L, 1L), (10L, 2L, 9L, 3L)))
  }

  test("classTfidf: distinctive terms per class, exact-ratio ln, tie order") {
    import graft.operators.TextAnalysis
    val docs = Seq(("A", "apple apple banana"), ("B", "banana banana cherry"))
      .toDF("cls", "text")
    val got = TextAnalysis.classTfidf(docs, "cls", "text", topN = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // A: apple 2·ln(2.5), banana ln 2; B: banana 2·ln 2 ties cherry
    // ln 4 — term-asc tiebreak puts banana first
    assert(got.toSeq == Seq(
      ("A", "apple", 1832581L), ("A", "banana", 693147L),
      ("B", "banana", 1386294L), ("B", "cherry", 1386294L)))
  }

  test("lexicalRichness: TTR and hapax fraction, exact folds") {
    import graft.operators.TextAnalysis
    val docs = Seq("a b a", "c").toDF("text")
    val r = TextAnalysis.lexicalRichness(docs, "text").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 3L, 2L, 750000L, 666666L)))
  }

  test("diffInDiff: cancels group gap and common trend, hand 2x2") {
    import graft.operators.Stats
    // treated: pre (1, 2) post (4); control: pre (1) post (2) →
    // (4 − 1.5) − (2 − 1) = 1.5
    val df = Seq(("t", false, 1.0), ("t", false, 2.0), ("t", true, 4.0),
      ("c", false, 1.0), ("c", true, 2.0)).toDF("g", "post", "v")
    val r = Stats.diffInDiff(df, col("g") === "t", col("post"), "v")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 1L, 1L, 1L, 1500000L)))
  }

  test("coverageNovelty: full coverage, head item 0 bits, tail item 2 bits") {
    import graft.operators.Eval
    val inter = (1 to 4).map(u => (u.toLong, "a")) :+ ((1L, "b"))
    val recs = Seq("a", "b", "b").toDF("rec")
    val r = Eval.coverageNovelty(recs, "rec",
        inter.toDF("user_id", "item"), "user_id", "item")
      .collect().head
    // pop(a)=4 of U=4 → 0 bits; pop(b)=1 → 2 bits; mean = ⌊4e6/3⌋
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 2L, 2L, 1000000L, 1333333L)))
  }

  test("ewma: closed-form halving weights, exact scaled-integer fold") {
    import graft.operators.Drift
    // daily means 10, 20, 40 → s = 10, 15, 27.5 (s2 = ¼·10+¼·20+½·40)
    val e = Seq((ts("2024-01-01 10:00:00"), 10.0),
      (ts("2024-01-02 10:00:00"), 20.0), (ts("2024-01-03 10:00:00"), 40.0))
      .toDF("t", "v")
    val got = Drift.ewma(e, "t", "v", thresholdMicros = 9000000L)
      .collect().map(r => (r.getLong(2), r.getBoolean(3)))
    // ref = ⌊70/3⌋e6 = 23333333; |s−ref| > 9e6 only on day 1
    assert(got.toSeq == Seq((10000000L, true), (15000000L, false),
      (27500000L, false)))
  }

  test("trimmedMean: drops both tails on the exact rank, floored mean") {
    import graft.operators.Stats
    val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val r = Stats.trimmedMean(df, "v", "id", trimFrac = 0.2).collect().head
    // k = 2 → keep 3..8 → mean 5.5
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((10L, 2L, 6L, 5500000L)))
  }

  test("brierScore: perfect 0, coin-flip 250000, exact integer terms") {
    import graft.operators.Eval
    val perfect = Seq((1000000L, 1), (0L, 0)).toDF("p", "y")
    assert(Eval.brierScore(perfect, "y", "p").collect().head.getLong(1) == 0L)
    val coin = Seq((500000L, 1), (500000L, 0)).toDF("p", "y")
    val r = Eval.brierScore(coin, "y", "p").collect().head
    assert((r.getLong(0), r.getLong(1)) == ((2L, 250000L)))
  }

  test("brierDecomposition: perfect = pure resolution, coin-flip = pure uncertainty") {
    import graft.operators.Eval
    // perfect predictions: REL 0, RES = UNC = 0.25, Brier = REL−RES+UNC = 0
    val perfect = Seq((1000000L, 1), (0L, 0)).toDF("p", "y")
    val rp = Eval.brierDecomposition(perfect, "y", "p").collect().head
    assert((rp.getLong(0), rp.getLong(1), rp.getLong(2), rp.getLong(3)) ==
      ((2L, 0L, 250000L, 250000L)))
    // constant coin-flip: no calibration gap, no separation — all UNC
    val coin = Seq((500000L, 1), (500000L, 0)).toDF("p", "y")
    val rc = Eval.brierDecomposition(coin, "y", "p").collect().head
    assert((rc.getLong(0), rc.getLong(1), rc.getLong(2), rc.getLong(3)) ==
      ((2L, 0L, 0L, 250000L)))
    // overconfident wrong-way model: reliability term shows the gap
    val wrong = Seq((1000000L, 0), (0L, 1)).toDF("p", "y")
    val rw = Eval.brierDecomposition(wrong, "y", "p").collect().head
    assert(rw.getLong(1) == 1000000L) // (1−0)² in both bins
  }

  test("linearAttribution: equal split, remainder to the last touch, window cut") {
    import graft.operators.Events
    // conversion at 10:00 with 3 in-window touches → 333333 each and
    // the LAST (latest ts) absorbs the +1; a touch outside the 3-day
    // window is excluded
    val e = Seq(
      (1L, ts("2024-01-10 10:00:00"), "purchase", 100L),
      (1L, ts("2024-01-09 09:00:00"), "click", 1L),
      (1L, ts("2024-01-09 10:00:00"), "view", 2L),
      (1L, ts("2024-01-10 09:00:00"), "click", 3L),
      (1L, ts("2024-01-01 09:00:00"), "click", 4L))
      .toDF("user_id", "t", "etype", "eid")
    val got = Events.linearAttribution(e, "user_id", "t", "etype", "eid",
        "purchase", Seq("click", "view"), 3L * 86400L * 1000000L)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 333333L), (2L, 333333L), (3L, 333334L)))
  }

  test("prAuc: perfect separation 1e6, inverted ranking penalized") {
    import graft.operators.Eval
    val perfect = Seq((900000L, 1), (800000L, 1), (100000L, 0))
      .toDF("p", "y")
    val r = Eval.prAuc(perfect, "y", "p").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 1000000L)))
    // negative outranks the only positive → P at the positive is ½
    val inv = Seq((900000L, 0), (100000L, 1)).toDF("p", "y")
    assert(Eval.prAuc(inv, "y", "p").collect().head.getLong(2) == 500000L)
  }

  test("cohenKappa: hand 2x2 marginals, constant-rater guard") {
    import graft.operators.Eval
    // n=4, agree=3, e = 2·3 + 2·1 = 8 → κ = (12−8)/(16−8) = ½
    val df = Seq((1L, 1L), (0L, 0L), (1L, 1L), (0L, 1L)).toDF("a", "b")
    val r = Eval.cohenKappa(df, "a", "b").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 3L, 500000L)))
    // both raters constant → p_e = 1 → κ = 0 by guard
    val const = Seq((1L, 1L), (1L, 1L)).toDF("a", "b")
    assert(Eval.cohenKappa(const, "a", "b").collect().head.getLong(2) == 0L)
  }

  test("behaviorEntropy: uniform two types ln 2, single type exactly 0") {
    import graft.operators.Events
    val e = Seq((1L, "a"), (1L, "a"), (1L, "b"), (1L, "b"),
      (2L, "a"), (2L, "a"), (2L, "a")).toDF("user_id", "etype")
    val got = Events.behaviorEntropy(e, "user_id", "etype")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == Map(1L -> 693147L, 2L -> 0L))
  }

  test("ks: disjoint samples reach 1e6, identical samples 0") {
    val a = Seq(1.0, 2.0, 3.0).toDF("v")
    val b = Seq(10.0, 11.0).toDF("v")
    val r = Drift.ksStatistic(a, b, "v").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 1000000L)))
    assert(Drift.ksStatistic(a, a, "v").collect().head.getLong(2) == 0L)
  }

  test("weightedSssp: cheaper multi-hop path beats the direct edge; unreachable absent") {
    import graft.operators.GraphAnalytics
    // 1—2 (w=10) vs 1—3—2 (w=2+3=5); 4—5 isolated from 1.
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 3L),
      (4L, 5L, 1L)).toDF("src", "dst", "w")
    val got = GraphAnalytics.weightedSssp(edges, Seq(1L), rounds = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 2L))
  }

  test("goldenRecords: clusters elect one survivor; singletons survive alone") {
    import graft.operators.EntityResolution
    val recs = Seq((1L, 10.0), (2L, 30.0), (3L, 30.0), (4L, 5.0))
      .toDF("id", "score")
    // 1-2-3 linked (chain); 4 unlinked. survivor = max score, tie → min id
    val links = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val got = EntityResolution.goldenRecords(recs, "id", links, "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 3L), (4L, 4L, 1L)))
  }

  test("jaro_winkler: textbook golden values match DuckDB's semantics") {
    import graft.functions.expr.TextExprs.jaro_winkler
    val df = Seq(("martha", "marhta"), ("dwayne", "duane"),
      ("abc", "xyz"), ("abc", "abc"), ("", "abc"), ("", ""))
      .toDF("a", "b")
    val got = df.select(jaro_winkler(col("a"), col("b"))).collect()
      .map(_.getDouble(0))
    assert(got(0) == 0.9611111111111111) // boost applied (jaro > .7)
    assert(got(1) == 0.8400000000000001)
    assert(got(2) == 0.0 && got(3) == 1.0)
    assert(got(4) == 0.0 && got(5) == 1.0)
  }

  test("fuzzy linkage: typo'd field links via JW where exact equality misses") {
    import graft.operators.EntityResolution
    import graft.functions.expr.TextExprs.jaro_winkler
    val recs = Seq((1L, "b", "jonathan smith"), (2L, "b", "jonathan smitx"),
      (3L, "b", "completely other")).toDF("id", "blk", "name")
    val fuzzy = EntityResolution.scorePairsFuzzy(recs, "id", "blk",
        Seq(("name", (a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =>
          round(jaro_winkler(a, b), 4) >= 0.9, 5000000L, -1000000L)),
        threshold = 5000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fuzzy.toSeq == Seq((1L, 2L)))
    // exact equality finds nothing on the same data
    assert(EntityResolution.scorePairs(recs, "id", "blk",
      Seq(("name", 5000000L, -1000000L)), 5000000L).count() == 0L)
  }

  test("entity resolution: blocked scoring, null-safe agreement, threshold") {
    import graft.operators.EntityResolution
    val recs = Seq(
      (1L, "b1", Some("alice"), "x"), // 1-2: name agrees (+4), f2 differs (-1) = 3e6 → linked
      (2L, "b1", Some("alice"), "y"),
      (3L, "b1", Some("bob"), "x"),   // 1-3: name differs (-2), f2 agrees (+2) = 0 → dropped
      (4L, "b2", None, "x"),          // 4-5: null-safe name agree (+4), f2 differs (-1) = 3e6
      (5L, "b2", None, "z"),
      (6L, "b3", Some("carol"), "x")  // alone in block → no pairs
    ).toDF("id", "blk", "name", "f2")
    val got = EntityResolution.scorePairs(recs, "id", "blk",
        Seq(("name", 4000000L, -2000000L), ("f2", 2000000L, -1000000L)),
        threshold = 3000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 3000000L), (4L, 5L, 3000000L)))
  }

  test("entity resolution: a comparison on the block or id column is carried once") {
    import graft.operators.EntityResolution
    val recs = Seq((1L, "b1", "ann"), (2L, "b1", "ann"), (3L, "b1", "bo"),
      (4L, "b2", "ann")).toDF("id", "blk", "name")
    // the block field always agrees inside a block (+5); the id never
    // does (-1): 1-2 score 5 + 5 - 1, 1-3 and 2-3 score 5 - 5 - 1
    val got = EntityResolution.scorePairs(recs, "id", "blk",
        Seq(("blk", 5L, -5L), ("name", 5L, -5L), ("id", 2L, -1L)), -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 9L), (1L, 3L, -1L), (2L, 3L, -1L)))
    // with the threshold above the block field's disagreement, the
    // block field is necessary and joins the key (the refined plan)
    assert(EntityResolution.scorePairs(recs, "id", "blk",
        Seq(("blk", 5L, -5L), ("name", 5L, -5L)), 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val fuzzy = EntityResolution.scorePairsFuzzy(recs, "id", "blk",
        Seq(("blk", (a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) => a === b, 5L, -5L)), 5L)
    assert(fuzzy.count() == 3L)
  }

  test("scorePairs necessary-field blocking equals the block-only scan") {
    import graft.operators.EntityResolution
    val rnd = new scala.util.Random(23)
    val recs = (1L to 400L).map(i => (i, s"b${rnd.nextInt(3)}",
      s"n${rnd.nextInt(6)}", rnd.nextInt(4).toLong)).toDF(
      "id", "blk", "name", "bal")
    val cmp = Seq(("name", 4000000L, -2000000L), ("bal", 6000000L, -3000000L))
    // threshold 7e6: name (10-4-2=4<7) AND bal (10-6-3=1<7) both
    // necessary — the refined equi-key is (blk, name, bal)
    val fast = EntityResolution.scorePairs(recs, "id", "blk", cmp, 7000000L)
    // the unrefined executable spec: block-only join + score filter
    val a2 = recs.select(col("id").as("i1"), col("blk").as("k"),
      col("name").as("n1"), col("bal").as("v1"))
    val b2 = recs.select(col("id").as("i2"), col("blk").as("k"),
      col("name").as("n2"), col("bal").as("v2"))
    val slow = a2.join(b2, Seq("k")).filter(col("i1") < col("i2"))
      .select(col("i1"), col("i2"),
        (when(col("n1") <=> col("n2"), 4000000L).otherwise(-2000000L) +
         when(col("v1") <=> col("v2"), 6000000L).otherwise(-3000000L))
          .as("sc"))
      .filter(col("sc") >= 7000000L)
    val f = fast.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sl = slow.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(f.nonEmpty && f.sorted.toSeq == sl.sorted.toSeq)
    // and the join key really tightened: all three fields are join keys
    val joins = fast.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val cond = joins.head.condition.map(_.toString).getOrElse("")
    assert(cond.contains("a_name") && cond.contains("a_bal"),
      s"expected refined keys in join condition: $cond")
  }

  test("attribution: window bound, equal-ts max-id collapse, no-touch NULL") {
    val e = Seq(
      (1L, ts("2024-01-10 10:00:00"), "click", 10L),
      (1L, ts("2024-01-10 10:00:00"), "view", 11L),  // same ts → id 11 wins
      (1L, ts("2024-01-11 09:00:00"), "purchase", 12L),
      (2L, ts("2024-01-01 10:00:00"), "click", 20L), // 9 days before conv → stale
      (2L, ts("2024-01-10 10:00:00"), "purchase", 21L),
      (3L, ts("2024-01-10 10:00:00"), "purchase", 30L) // no touches at all
    ).toDF("user_id", "ts", "event_type", "event_id")
    val got = Events.lastTouchAttribution(e, "user_id", "ts", "event_type",
        "event_id", "purchase", Seq("click", "view"), 3L * 86400L * 1000000L)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) "" else r.getString(2)))
    assert(got.toSeq == Seq((12L, 11L, "view"), (21L, -1L, ""),
      (30L, -1L, "")))
  }

  test("hyperBall: N(0) is exactly |V| (linear counting of 1), balls grow monotonically") {
    import graft.operators.GraphAnalytics
    // path 1—2—3—4—5: N(0)=5, N(4) estimates the full 25-pair mass
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val nf = GraphAnalytics.hyperBall(edges, 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(nf(0) == 5L) // singleton balls always estimate exactly 1
    assert((0 to 3).forall(r => nf(r) <= nf(r + 1)))
    assert(nf(4) >= 5L && nf(4) <= 45L) // 25 ± HLL(m=16) error band
    val ed = GraphAnalytics.effectiveDiameter(edges, 4).collect().head
    assert(ed.getLong(0) == nf.values.max && ed.getInt(1) >= 1)
  }

  test("rbo: identical lists near 1, disjoint lists 0, hand partial overlap") {
    import graft.operators.Eval
    val a = Seq((1L, 10L, 3.0), (1L, 20L, 2.0)).toDF("qid", "id", "score")
    // identical 2-deep lists: X = 1,2 → floor(1e6/2) + floor(2e6/8) = 750000
    assert(Eval.rbo(a, a, k = 2).collect().head.getLong(1) == 750000L)
    val b = Seq((1L, 30L, 3.0), (1L, 40L, 2.0)).toDF("qid", "id", "score")
    assert(Eval.rbo(a, b, k = 2).collect().head.getLong(1) == 0L)
    // swapped order: X_1 = 0, X_2 = 2 → floor(2e6/8) = 250000
    val rev = Seq((1L, 20L, 3.0), (1L, 10L, 2.0)).toDF("qid", "id", "score")
    assert(Eval.rbo(a, rev, k = 2).collect().head.getLong(1) == 250000L)
  }

  test("kendallTau: agreement 1e6, full reversal -1e6, hand 3-item case") {
    import graft.operators.Eval
    def tau(x: org.apache.spark.sql.DataFrame,
            y: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) = {
      val r = Eval.kendallTau(x, y, k = 10).collect().head
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    val a = Seq((1L, 10L, 3.0), (1L, 20L, 2.0), (1L, 30L, 1.0))
      .toDF("qid", "id", "score")
    assert(tau(a, a) == ((3L, 3L, 0L, 1000000L)))
    val rev = Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0))
      .toDF("qid", "id", "score")
    assert(tau(a, rev) == ((3L, 0L, 3L, -1000000L)))
    // b swaps only the top two: pair (10,20) discordant, the two
    // pairs involving 30 concordant → τ = (2−1)/3 = 333333
    val b = Seq((1L, 20L, 3.0), (1L, 10L, 2.0), (1L, 30L, 1.0))
      .toDF("qid", "id", "score")
    assert(tau(a, b) == ((3L, 2L, 1L, 333333L)))
    // one common item → no pairs → τ = 0 by contract
    val c = Seq((1L, 10L, 9.0), (1L, 90L, 8.0)).toDF("qid", "id", "score")
    assert(tau(a, c) == ((1L, 0L, 0L, 0L)))
  }

  test("recommendAllWeighted: heavier recent path outranks; direct friends excluded") {
    import graft.operators.Pymk
    // anchor 1: paths to 4 via 2 (w 2e6·1e6) and to 5 via 3 (1e6·1e6);
    // 2,3 are direct friends → excluded as candidates.
    val w = Seq((1L, 2L, 2000000L), (2L, 4L, 1000000L),
      (1L, 3L, 1000000L), (3L, 5L, 1000000L))
      .toDF("src", "dst", "w_micros")
    val got = Pymk.recommendAllWeighted(w, limit = 5)
      .filter(col("anchor") === 1).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((4L, 2000000L), (5L, 1000000L)))
  }

  test("edgeEmbeddedness: triangle edges 1/3, pendant 0, isolated-pair guard") {
    import graft.operators.Pymk
    // triangle 1-2-3 + pendant 3-4 + isolated pair 8-9
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (8L, 9L))
      .toDF("src", "dst")
    val got = Pymk.edgeEmbeddedness(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // edge 1-2: common {3}; union = N(1)∪N(2) minus endpoints = {3} → 1
    assert(got((1L, 2L)) == ((1L, 1000000L)))
    assert(got((1L, 3L)) == ((1L, 500000L))) // union {2} ∪ {2,4} = 2
    assert(got((3L, 4L)) == ((0L, 0L)))
    assert(got((8L, 9L)) == ((0L, 0L))) // empty union → guard, not 0/0
  }

  test("weakTies: pendant edge is the only local bridge") {
    import graft.operators.GraphAnalytics
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphAnalytics.weakTies(g).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((3L, 4L)))
  }

  test("lDiversity: low-diversity groups flagged with their row mass") {
    import graft.operators.Profile
    val df = Seq(("a", "s1"), ("a", "s2"), ("a", "s3"), ("b", "s1"),
      ("b", "s1"), ("b", "s1")).toDF("q", "s")
    val r = Profile.lDiversity(df, Seq("q"), "s", 2L).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 3L, 1L)))
  }

  test("tCloseness: exact TVD incl. absent-value complement, threshold flip") {
    import graft.operators.Profile
    // global p = (2/3, 1/6, 1/6); group a = uniform thirds → TVD 1/3;
    // group b = all-s1 (s2/s3 absent → complement term) → TVD 1/3
    val df = Seq(("a", "s1"), ("a", "s2"), ("a", "s3"), ("b", "s1"),
      ("b", "s1"), ("b", "s1")).toDF("q", "s")
    def rep(t: Double) = {
      val r = Profile.tCloseness(df, Seq("q"), "s", t).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    assert(rep(0.2) == ((2L, 2L, 6L, 333333L)))
    assert(rep(0.5) == ((2L, 0L, 0L, 333333L)))
  }

  test("exposureGini: uniform exposure 0, 9:1 split 0.4") {
    import graft.operators.Eval
    val uniform = Seq("a", "a", "b", "b", "c", "c").toDF("rec")
    assert(Eval.exposureGini(uniform, "rec").collect().head.getLong(2) == 0L)
    val skewed = (Seq.fill(9)("a") ++ Seq("b")).toDF("rec")
    val r = Eval.exposureGini(skewed, "rec").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((2L, 10L, 400000L)))
  }

  test("katzMicros: hand path-graph rounds") {
    import graft.operators.GraphAnalytics
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = GraphAnalytics.katzMicros(path, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r1: ends 1125000, mid 1250000; r2 folds those back
    assert(got == Map(1L -> 1156250L, 2L -> 1281250L, 3L -> 1156250L))
  }

  test("welchT: hand statistic incl. zero-variance guard arithmetic") {
    import graft.operators.Stats
    val a = Seq(1.0, 2.0, 3.0).toDF("value")
    val b = Seq(5.0, 5.0).toDF("value")
    val r = Stats.welchT(a, b, "value").collect().head
    // se2 = var_a/3 = 333333.3; t = -3000/577.3503 = -5.19615...
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 2L, 2000L, 5000L, -5196153L)))
    // both-degenerate: single rows → guard fires
    val z = Stats.welchT(Seq(1.0).toDF("value"), Seq(2.0).toDF("value"),
      "value").collect().head
    assert(z.getLong(4) == 0L)
  }

  test("bootstrapCI: CI brackets the mean, deterministic across runs") {
    import graft.operators.Stats
    val df = (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("id", "value")
    val r1 = Stats.bootstrapCI(df, "id", "value", b = 32).collect().head
    assert(r1.getLong(0) == 32L && r1.getLong(1) == 50500000L)
    assert(r1.getLong(2) <= r1.getLong(1) && r1.getLong(1) <= r1.getLong(3))
    val r2 = Stats.bootstrapCI(df, "id", "value", b = 32).collect().head
    assert(r1.toSeq == r2.toSeq) // md5 multiplicities: no RNG anywhere
  }

  test("dbscan: core/border/noise roles — zeroed-prefix norm construction") {
    import graft.operators.Similarity
    // all-ones 64-dim with k-dim zeroed prefixes: sim = √((64−max)/
    // (64−min)); thresholds: v–v1 .992, v–v8 .935, v1–v8 .943,
    // v8–v16 .926 all ≥ .9; v–v16 .866, v1–v16 .873 below. minPts=3
    // → v,v1,v8 core; v16 border (only v8 adjacent); e1-spike noise.
    def vec(zeros: Int) =
      Seq.tabulate(64)(i => if (i < zeros) 0.0f else 1.0f)
    val pts = Seq((1L, vec(0)), (2L, vec(1)), (3L, vec(8)), (4L, vec(16)),
      (5L, Seq.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)))
      .toDF("id", "v")
    val got = Similarity.dbscan(pts, "id", "v", minSim = 0.9, minPts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 1L, "core"), (2L, 1L, "core"),
      (3L, 1L, "core"), (4L, 1L, "border"), (5L, -1L, "noise")))
  }

  test("kTruss: triangle survives, pendant drops, diamond cascade empties") {
    import graft.operators.GraphAnalytics
    // triangle 1-2-3 with pendant 3-4: 3-truss keeps the triangle only
    val g1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val t3 = GraphAnalytics.kTruss(g1, k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t3.toSeq == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
    // diamond (two triangles sharing edge 2-3): 4-truss peels the
    // outer edges round 1, then the stranded shared edge round 2
    val g2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    assert(GraphAnalytics.kTruss(g2, k = 4, rounds = 2).count() == 0L)
  }

  test("kTruss: planted hub peels, clique survives; out-list cap contract") {
    import graft.operators.GraphAnalytics
    // planted 40-leaf hub star (zero triangles) + a K4 on 100-103:
    // the oriented wedge enumeration pairs out-neighbors at the LOW-
    // (deg,id) endpoint, so the hub's 40·39 unoriented wedge pairs
    // never materialize (each leaf has out-degree 1 → no pairs); the
    // 3-truss is exactly the K4 with support 2 per edge
    val hub = (1L to 40L).map(i => (0L, i))
    val k4 = for (a <- 100L to 103L; b <- (a + 1) to 103L) yield (a, b)
    val g = (hub ++ k4).toDF("src", "dst")
    val got = GraphAnalytics.kTruss(g, k = 3, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == k4.map { case (a, b) => (a, b, 2L) })
    // cap >= max oriented out-degree is EXACT (K4 oriented out-degree
    // <= 3; star leaves have out-degree 1): capped == uncapped rows
    val capped = GraphAnalytics.kTruss(g, k = 3, rounds = 3,
      maxOutDegree = 3).collect().map(_.toSeq)
    assert(capped.toSet == got.map(t => Seq[Any](t._1, t._2, t._3)).toSet)
    // the capped sample is deterministic: rerun reproduces exactly
    val again = GraphAnalytics.kTruss(g, k = 3, rounds = 3,
      maxOutDegree = 3).collect().map(_.toSeq)
    assert(again.toSet == capped.toSet)
  }

  test("releaseCheckpoint frees exactly the released frame's blocks") {
    import graft.operators.GraphAnalytics
    val sc = spark.sparkContext
    // track the SPECIFIC persisted RDD ids of a and b — total registry
    // counts are flaky here because the ContextCleaner can concurrently
    // unpersist GC'd blocks leaked by earlier tests in the suite
    def persistedIds(df: org.apache.spark.sql.DataFrame): Set[Int] = {
      def walk(r: org.apache.spark.rdd.RDD[_]): Seq[Int] =
        if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
          Seq(r.id)
        else r.dependencies.toSeq.flatMap(d => walk(d.rdd))
      walk(df.queryExecution.toRdd).toSet
    }
    val a = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").localCheckpoint(true)
    val b = Seq((7L, 8L)).toDF("src", "dst").localCheckpoint(true)
    val (aIds, bIds) = (persistedIds(a), persistedIds(b))
    assert(aIds.nonEmpty && bIds.nonEmpty && (aIds & bIds).isEmpty)
    assert((aIds ++ bIds).forall(sc.getPersistentRDDs.contains))
    GraphAnalytics.releaseCheckpoint(a)
    // release is precise: a's block gone, the bystander b untouched
    // (the registry prunes asynchronously on unpersist(blocking=false),
    // so poll briefly rather than assert instantly)
    val deadline = System.nanoTime() + 10e9.toLong
    while (aIds.exists(sc.getPersistentRDDs.contains) &&
           System.nanoTime() < deadline) Thread.sleep(50)
    assert(aIds.forall(id => !sc.getPersistentRDDs.contains(id)))
    assert(bIds.forall(sc.getPersistentRDDs.contains),
      "bystander checkpoint must stay persisted")
    assert(b.count() == 1L) // b still readable after a's release
    GraphAnalytics.releaseCheckpoint(b)
  }

  test("kTruss: a biting cap only LOSES edges vs the exact truss") {
    import graft.operators.GraphAnalytics
    // K5 on 0-4 + K4 on 10-13 sharing spokes into vertex 0 (oriented
    // out-degrees reach 4, so cap 2 bites), PLUS structures the exact
    // k=4 peel genuinely removes: a pendant triangle on 4-20-21 (every
    // edge support 1 < k−2) and a pendant path 30-31-32 (support 0).
    // Capped support <= exact support on the same edge set and
    // triangles only disappear as edges peel, so by induction every
    // surviving capped edge also survives the exact peel — the cap
    // must never INVENT truss edges. The pendant structures make the
    // exact truss a PROPER subset of the input (asserted), so a buggy
    // capped path that over-counts support would be caught here.
    val k5 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val k4 = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val spokes = (10L to 13L).map(i => (0L, i))
    val pendants = Seq((4L, 20L), (4L, 21L), (20L, 21L), // sup-1 triangle
      (30L, 31L), (31L, 32L)) // sup-0 path
    val g = (k5 ++ k4 ++ spokes ++ pendants).toDF("src", "dst")
    val exact = GraphAnalytics.kTruss(g, k = 4, rounds = 3)
      .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the exact peel removed exactly the 5 pendant edges — the
    // containment assertion below has a non-empty complement to catch
    assert(exact.toSet == (k5 ++ k4 ++ spokes).toSet)
    val capped = GraphAnalytics.kTruss(g, k = 4, rounds = 3,
        maxOutDegree = 2)
      .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSet.subsetOf(exact.toSet))
  }

  test("decayedCounts: half-life arithmetic in exact micros") {
    import graft.operators.Features
    // ages 0 and 7 days at half-life 7 → 1e6 + 5e5
    val e = Seq((1L, ts("2024-02-01 00:00:00")),
      (1L, ts("2024-01-25 00:00:00"))).toDF("k", "t")
    val r = Features.decayedCounts(e, Seq("k"), "t",
      "2024-02-01 00:00:00", 7.0).collect().head
    assert((r.getLong(1), r.getLong(2)) == ((1500000L, 2L)))
  }

  test("kAnonymity: violating groups and risk rows counted") {
    import graft.operators.Profile
    val df = Seq(("a", "x"), ("a", "x"), ("a", "x"), ("b", "y"),
      ("c", "z"), ("c", "z")).toDF("q1", "q2")
    val r = Profile.kAnonymity(df, Seq("q1", "q2"), 3L).collect().head
    // groups: ax=3 (ok), by=1, cz=2 (both violate k=3) → 3 risk rows
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((6L, 3L, 2L, 3L, 1L)))
  }

  test("conformal: rank-selected threshold and held-out coverage, hand case") {
    import graft.operators.Eval
    // ids with md5Bucket parity split the frame deterministically;
    // perfect scores → nonconformity 0 everywhere → q = 0, coverage 1
    val perfect = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) 1 else 0, if (i % 2 == 0) 1000000L else 0L))
      .toDF("id", "y", "p")
    val r = Eval.conformal(perfect, "id", "y", "p").collect().head
    assert(r.getLong(0) + r.getLong(1) == 40L)
    assert(r.getLong(2) == 0L && r.getLong(3) == 1000000L)
    // anti-perfect scores → nonconformity 1e6 → q = 1e6, coverage 1
    val awful = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) 1 else 0, if (i % 2 == 0) 0L else 1000000L))
      .toDF("id", "y", "p")
    val r2 = Eval.conformal(awful, "id", "y", "p").collect().head
    assert(r2.getLong(2) == 1000000L && r2.getLong(3) == 1000000L)
  }

  test("bestThreshold: argmin over the cost curve, hand-computed") {
    import graft.operators.Eval
    val scored = Seq((1, 900000L), (1, 700000L), (0, 600000L),
      (1, 400000L), (0, 200000L)).toDF("y", "p")
    // costs at cuts 900/700/600/400/200k = 6/3/4/1/2 (cfn=3, cfp=1)
    val r = Eval.bestThreshold(scored, "y", "p", 1000000L, 3000000L)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) ==
      ((400000L, 3L, 1L, 0L, 1L, 1000000L)))
  }

  test("confusionAtThreshold: counts and guarded ratios") {
    import graft.operators.Eval
    val scored = Seq((1, 900000L), (1, 700000L), (0, 600000L),
      (1, 400000L), (0, 200000L)).toDF("y", "p")
    val r = Eval.confusionAtThreshold(scored, "y", "p", 500000L)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 1L, 1L)))
    assert(r.getLong(4) == 666666L && r.getLong(5) == 666666L &&
      r.getLong(6) == 666666L)
    // degenerate: nothing predicted positive → precision guard fires
    val none = Seq((1, 100000L)).toDF("y", "p")
    val z = Eval.confusionAtThreshold(none, "y", "p", 500000L)
      .collect().head
    assert(z.getLong(4) == 0L && z.getLong(5) == 0L && z.getLong(6) == 0L)
  }

  test("itemItemTopK: cosine co-occurrence, user cap drops power users") {
    import graft.operators.Pymk
    val e = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"),
      (4L, "a"), (4L, "b"), (4L, "c") // 3 items > cap 2 → dropped
    ).toDF("user_id", "item")
    val got = Pymk.itemItemTopK(e, "user_id", "item", k = 5, userCap = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", "b", 2L, 816496L), ("a", "c", 1L, 577350L),
      ("b", "a", 2L, 816496L), ("c", "a", 1L, 577350L)))
  }

  test("assortativity: star graph scores exactly -1, regular graph 0-guard") {
    import graft.operators.GraphAnalytics
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = GraphAnalytics.assortativity(star).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((6L, -1000000L)))
    // 4-cycle: every degree 2 → zero variance → guarded r = 0
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(GraphAnalytics.assortativity(cyc).collect().head.getLong(1) == 0L)
  }

  test("exactQuantiles: rank-selection picks the exact rows") {
    import graft.operators.Sketches
    val df = (1L to 10L).map(i => (i * 10L, i)).toDF("v", "tie")
    val got = Sketches.exactQuantiles(df, "v", "tie",
        Seq(500000L, 900000L, 1000000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // N=10: ceil(.5*10)=5 → 50, ceil(.9*10)=9 → 90, ceil(1*10)=10 → 100
    assert(got == Map(500000L -> 50L, 900000L -> 90L, 1000000L -> 100L))
  }

  test("portableHllDistinct: singleton estimates exactly 1, duplicates don't inflate") {
    import graft.operators.Sketches
    val one = Seq.fill(100)(42L).toDF("x")
    val r = Sketches.portableHllDistinct(one, "x").collect().head
    assert((r.getLong(0), r.getLong(1)) == ((100L, 1L)))
    // 150 distinct at m=16 → estimate within the coarse HLL band
    val many = (1L to 150L).toDF("x")
    val est = Sketches.portableHllDistinct(many, "x").collect().head.getLong(1)
    assert(est > 60L && est < 400L)
  }

  test("portableHllDistinctBy: per-key estimates equal the ungrouped op per slice") {
    import graft.operators.Sketches
    val df = ((1L to 40L).map(i => ("a", i)) ++
      (100L to 104L).map(i => ("b", i)) ++
      Seq.fill(30)(("c", 7L))).toDF("k", "x")
    val grouped = Sketches.portableHllDistinctBy(df, "k", "x")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    for (key <- Seq("a", "b", "c")) {
      val solo = Sketches.portableHllDistinct(df.filter(col("k") === key), "x")
        .collect().head
      assert(grouped(key) == ((solo.getLong(0), solo.getLong(1))),
        s"key $key grouped ${grouped(key)} != solo")
    }
    assert(grouped("c")._2 == 1L) // duplicates don't inflate per key
  }

  test("cuped: perfectly correlated covariate zeroes the adjusted variance") {
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).toDF("x", "y")
    val r = graft.operators.Stats.cuped(df, "x", "y").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 2000000L, 1000000L, 24000000L, 0L)))
    // constant covariate: θ = 0, variance untouched
    val flat = Seq((1.0, 2.0), (1.0, 4.0), (1.0, 6.0)).toDF("x", "y")
    val r2 = graft.operators.Stats.cuped(flat, "x", "y").head()
    assert(r2.getLong(1) == 0L && r2.getLong(4) == r2.getLong(3))
  }

  test("chi2: perfectly label-aligned token scores N·1e6; constant token filtered") {
    // 4 docs, 2 positive; "pos" appears exactly in the positives →
    // χ² = N = 4 → 4e6 micros; "base" appears everywhere → rt = N,
    // excluded.
    val docs = Seq(
      (1L, "base pos", 1), (2L, "base pos", 1),
      (3L, "base neg", 0), (4L, "base neg", 0)
    ).toDF("doc_id", "text", "y")
    val got = TextAnalysis.chiSquareTokens(docs, "text", "y", 1L, 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(("neg", 2L, 0L, 4000000L),
      ("pos", 2L, 2L, 4000000L)))
  }

  test("jsDivergence: 0 on identical, ln2 on disjoint, symmetric in between") {
    import spark.implicits._
    import graft.operators.Drift
    val a = Seq("x", "x", "y", "z").toDF("k")
    val same = Drift.jsDivergence(a, a, "k").collect().head
    assert((same.getLong(0), same.getLong(3)) == (3L, 0L))
    // disjoint supports: JSD = ln 2 ≈ 693147 micros (± per-key rounding)
    val b = Seq("p", "q", "q", "r").toDF("k")
    val dis = Drift.jsDivergence(a, b, "k").collect().head
    assert(dis.getLong(0) == 6L)
    assert(math.abs(dis.getLong(3) - 693147L) <= 6L, s"jsd=${dis.getLong(3)}")
    // symmetry: swapping sides gives the identical statistic
    val ab = Drift.jsDivergence(a, b, "k").collect().head.getLong(3)
    val ba = Drift.jsDivergence(b, a, "k").collect().head.getLong(3)
    assert(ab == ba)
  }

  test("ucbScores: hand-computed bound; cold arm outranks on exploration") {
    import spark.implicits._
    import graft.operators.Events
    // arm 1: 8 pulls 4 wins; arm 2: 2 pulls 0 wins; N = 10
    val log = (Seq.fill(4)((1L, 1)) ++ Seq.fill(4)((1L, 0)) ++
      Seq.fill(2)((2L, 0))).toDF("arm", "r")
    val got = Events.ucbScores(log, col("arm"), col("r")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val u1 = math.floor(1e6 * (0.5 + math.sqrt(2.0 * math.log(10.0) / 8.0)))
    val u2 = math.floor(1e6 * (0.0 + math.sqrt(2.0 * math.log(10.0) / 2.0)))
    assert(got(1L) == (8L, 4L, u1.toLong))
    assert(got(2L) == (2L, 0L, u2.toLong))
    // the 0-win cold arm still outranks: exploration term dominates
    assert(got(2L)._3 > got(1L)._3)
  }

  test("sequenceScore: hand-computed add-1 log-probs; anomalous chain scores lower") {
    import spark.implicits._
    import graft.operators.Events
    // users 1..3 all do a->b; user 4 does a->a (never seen elsewhere).
    // model: c(a->b)=3, c(a->a)=1, c_a=4, V=2:
    //   lp(a,b)=ln(4/6), lp(a,a)=ln(2/6)
    val rows = Seq(
      (1L, 1L, "a", 10L), (1L, 2L, "b", 11L),
      (2L, 3L, "a", 12L), (2L, 4L, "b", 13L),
      (3L, 5L, "a", 14L), (3L, 6L, "b", 15L),
      (4L, 7L, "a", 16L), (4L, 8L, "a", 17L))
      .toDF("user_id", "event_id", "event_type", "tsl")
      .withColumn("ts", timestamp_millis(col("tsl") * 1000))
    val got = Events.sequenceScore(rows, "user_id", "ts", "event_type",
        Seq("event_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val lpAB = math.round(1e6 * math.log(4.0 / 6.0))
    val lpAA = math.round(1e6 * math.log(2.0 / 6.0))
    assert(got(1L) == (1L, lpAB) && got(2L) == (1L, lpAB) &&
      got(3L) == (1L, lpAB))
    assert(got(4L) == (1L, lpAA))
    assert(got(4L)._2 < got(1L)._2, "anomalous chain must score lower")
  }

  test("wilsonInterval: hand-computed bounds, CI brackets p and stays in [0,1]") {
    import spark.implicits._
    import graft.operators.Stats
    // group 1: 3/4 wins; group 2: 0/2 wins (the small-n degenerate
    // case where a normal interval would go negative)
    val df = Seq((1L, 1), (1L, 1), (1L, 1), (1L, 0), (2L, 0), (2L, 0))
      .toDF("g", "s")
    val got = Stats.wilsonInterval(df, col("g"), col("s")).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    def wilson(wins: Long, n: Long) = {
      val z = 1.96; val z2 = z * z; val nn = n.toDouble
      val p = wins / nn
      val denom = 1.0 + z2 / nn
      val center = (p + z2 / (2.0 * nn)) / denom
      val half = z * math.sqrt(p * (1.0 - p) / nn + z2 / (4.0 * nn * nn)) /
        denom
      (math.floor(1e6 * p).toLong, math.floor(1e6 * (center - half)).toLong,
        math.floor(1e6 * (center + half)).toLong)
    }
    val (p1, lo1, hi1) = wilson(3, 4)
    assert(got(1L) == (4L, 3L, p1, lo1, hi1))
    assert(lo1 > 0 && hi1 < 1000000 && lo1 < p1 && p1 < hi1)
    val (p2, lo2, hi2) = wilson(0, 2)
    assert(got(2L) == (2L, 0L, p2, lo2, hi2))
    assert(lo2 >= 0, "Wilson lower bound must not go negative")
    assert(hi2 > 500000, "n=2 zero-wins upper bound is wide")
  }

  test("mutualBest: only mutual rank-1 pairs survive, canonical a < b") {
    import spark.implicits._
    import graft.operators.Pymk
    // 1<->2 mutual best; 3's best is 1 but 1's best is 2 → dropped;
    // 4<->5 mutual (tie at 4's top broken by smaller rec id = 5? no:
    // 4 has single row to 5)
    val recs = Seq(
      (1L, 2L, 90L), (1L, 3L, 50L),
      (2L, 1L, 80L), (2L, 3L, 10L),
      (3L, 1L, 70L),
      (4L, 5L, 60L), (5L, 4L, 60L))
      .toDF("item", "rec", "sim")
    val got = Pymk.mutualBest(recs, "item", "rec", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 90L, 80L), (4L, 5L, 60L, 60L)))
  }

  test("blockingQuality: hand-computed reduction and completeness") {
    import spark.implicits._
    import graft.operators.EntityResolution
    // 6 records, 3 entities of 2; entity C split across blocks
    val recs = Seq(
      (1L, "b1", "A"), (2L, "b1", "A"),
      (3L, "b1", "B"), (4L, "b1", "B"),
      (5L, "b1", "C"), (6L, "b2", "C")
    ).toDF("id", "block", "entity")
    val r = EntityResolution.blockingQuality(recs, "id", "block", "entity")
      .collect().head
    // candidates: block b1 has 5 records → 10 pairs; b2 → 0
    // truth: 3 entity pairs; found: A,B co-blocked, C split → 2
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (6L, 10L, 3L, 2L))
    assert(r.getLong(4) == math.floor(1e6 * (1.0 - 10.0 / 15.0)).toLong)
    assert(r.getLong(5) == 666666L)
  }

  test("sequentialPairs: strict before, both directions, support + confidence") {
    // u1: A@1 B@2 A@3 — supports A→B (A@1 < B@2) AND B→A (B@2 < A@3);
    // u2: A@1 B@1 simultaneous — supports NEITHER (strict <);
    // u3: B@1 A@2 — supports B→A only; u4: A only — no pairs.
    val e = Seq(
      (1L, ts("2024-01-01 00:00:01"), "A"),
      (1L, ts("2024-01-01 00:00:02"), "B"),
      (1L, ts("2024-01-01 00:00:03"), "A"),
      (2L, ts("2024-01-01 00:00:01"), "A"),
      (2L, ts("2024-01-01 00:00:01"), "B"),
      (3L, ts("2024-01-01 00:00:01"), "B"),
      (3L, ts("2024-01-01 00:00:02"), "A"),
      (4L, ts("2024-01-01 00:00:01"), "A")).toDF("u", "ts", "t")
    val got = Events.sequentialPairs(e, "u", "ts", "t", minSupport = 1L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // n_A = 4 users with A, n_B = 3 with B
    assert(got == Map(
      ("A", "B") -> ((1L, 4L, 250000L)),
      ("B", "A") -> ((2L, 3L, 666666L))))
    // support floor: minSupport 2 keeps only B→A
    assert(Events.sequentialPairs(e, "u", "ts", "t", minSupport = 2L)
      .collect().map(_.getString(0)).toSeq == Seq("B"))
  }

  test("sessionize: gap splits, boundary gap does NOT split, per-user indices") {
    // u1: events at 0s, 10s, +31min (split), +31min+5s;
    // u2: one event; gap exactly == threshold must NOT split
    val e = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L),
      (1L, ts("2024-01-01 00:00:10"), 2L),
      (1L, ts("2024-01-01 00:31:10"), 3L),
      (1L, ts("2024-01-01 00:31:15"), 4L),
      (2L, ts("2024-01-01 00:00:00"), 5L),
      (2L, ts("2024-01-01 00:30:00"), 6L)).toDF("u", "ts", "eid")
    val got = Events.sessionize(e, "u", "ts", "eid",
        gapUs = 30L * 60L * 1000000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(5)))).toMap
    assert(got == Map(
      (1L, 1L) -> ((2L, 10000000L)),   // 0s..10s
      (1L, 2L) -> ((2L, 5000000L)),    // 31:10..31:15
      (2L, 1L) -> ((2L, 1800000000L)))) // exactly-30min gap: one session
  }

  test("winsorizedMean: tails clamp to the tail quantiles, n unchanged") {
    // values 1..9 plus the outlier 100; frac 0.1 → k=1, clamp into
    // [2, 9]: sum = 2 + (2+…+9) + 9 = 55 → mean 5.5, vs the plain
    // mean 14.5 the outlier drags
    val df = ((1 to 9) :+ 100).zipWithIndex
      .map { case (v, i) => (v.toDouble, i.toLong) }.toDF("v", "id")
    val r = graft.operators.Stats.winsorizedMean(df, "v", "id", 0.1).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((10L, 1L, 2000000L, 9000000L, 5500000L)))
    // frac 0 degenerates to the plain (outlier-dragged) mean
    val r0 = graft.operators.Stats.winsorizedMean(df, "v", "id", 0.0).head()
    assert(r0.getLong(4) == 14500000L && r0.getLong(1) == 0L)
  }

  test("purgedTimeSplit: train before embargo, band dropped, test after cutover") {
    val cutover = 1705363200000000L // 2024-01-16 00:00:00 UTC
    val e = Seq(
      (1L, ts("2024-01-13 23:59:59")), // train (before Jan 14)
      (2L, ts("2024-01-14 00:00:00")), // band start: dropped
      (3L, ts("2024-01-15 12:00:00")), // band: dropped
      (4L, ts("2024-01-16 00:00:00")), // test boundary inclusive
      (5L, ts("2024-01-17 00:00:00"))).toDF("id", "ts")
    val got = graft.operators.Sampling.purgedTimeSplit(e, "ts",
        cutover, 2L * 86400L * 1000000L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "train", 4L -> "test", 5L -> "test"))
  }

  test("lorenzCurve: shares sum to 1e6, cumulative monotone, heavy tail visible") {
    import graft.operators.Eval
    // 4 units with weights 1,1,2,6 in 2 bins: light half share 20%,
    // heavy half 80%
    val df = Seq((1L, 1L), (1L, 2L), (2L, 3L), (6L, 4L)).toDF("w", "id")
    val got = Eval.lorenzCurve(df, "w", "id", bins = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      0L -> ((2L, 2L, 200000L, 200000L)),
      1L -> ((2L, 8L, 800000L, 1000000L))))
  }

  test("chao1Richness: hand tallies — hapax tail extrapolates the vocab") {
    import graft.operators.TextAnalysis
    // tokens a a b c: D=3, f1=2, f2=1 -> chao1 = 3 + 2*1/(2*2) = 3.5;
    // P0 = 2/4
    val docs = Seq((1L, "a a b c")).toDF("doc_id", "text")
    val r = TextAnalysis.chao1Richness(docs, "text").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((4L, 3L, 2L, 1L, 3500L, 500000L)))
  }

  test("bigramCoverage: held-out bigrams half-covered by train") {
    import graft.operators.TextAnalysis
    val docs = Seq(("a b c", true), ("b c d", false))
      .toDF("text", "is_train")
    val r = TextAnalysis.bigramCoverage(docs, "text", "is_train").head()
    // train {a b, b c}; test {b c, c d} -> 1 of 2 covered
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 1L, 500000L)))
  }

  test("bigramCondEntropy: uniform next-char after 'a' gives ln 2") {
    import graft.operators.TextAnalysis
    // "aab": bigrams aa, ab (both prefix 'a') -> H(c2|c1) = ln 2;
    // "x" is too short and drops out
    val docs = Seq((1L, "aab"), (2L, "x")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramCondEntropy(docs, "text").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((2L, 2L, 693148L)))
  }

  test("olsLogLog: exact quadratic relation recovers slope 2") {
    import graft.operators.Stats
    // y = x^2 -> ln y = 2 ln x + 0
    val df = Seq((math.exp(1), math.exp(2)), (math.exp(2), math.exp(4)))
      .toDF("x", "y")
    val r = Stats.olsLogLog(df, "x", "y").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((2L, 2000000L, 0L)))
  }

  test("gapQuantiles: rank-selected p50/p90/p99 on doubling gaps") {
    import graft.operators.Events
    // gaps 1s,2s,4s,8s: ceil-index p50 -> rank 2 (2s),
    // p90/p99 -> rank 4 (8s)
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val offs = Seq(0L, 1L, 3L, 7L, 15L)
    val e = offs.zipWithIndex.map { case (o, i) =>
      (1L, new java.sql.Timestamp(base + o * 1000L), "A", i.toLong)
    }.toDF("u", "t", "et", "eid")
    val r = Events.gapQuantiles(e, "u", "t", "et", "eid").head()
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == (("A", 4L, 2000000L, 8000000L, 8000000L)))
  }

  test("rateTest: conditional binomial z on raw counts") {
    import graft.operators.Stats
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(9).toDF("x")
    val r = Stats.rateTest(a, b).head()
    // z = (3-1)/sqrt(4) = 1
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((3L, 1L, 1000000L)))
  }

  test("benford: string-derived digits, literal Benford masses") {
    import graft.operators.Stats
    // values 1.0,1.5,2.0,9.0 -> digits 1,1,2,9; zero filtered out
    val df = Seq(1.0, 1.5, 2.0, 9.0, 0.0).toDF("v")
    val got = Stats.benford(df, "v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def term(o: Long, pm: Long): Long = {
      val e = 4.0 * pm / 1e6
      math.floor(1e6 * (o - e) * (o - e) / e).toLong
    }
    assert(got == Map(
      1L -> ((2L, 1L, term(2, 301030L))),
      2L -> ((1L, 0L, term(1, 176091L))),
      9L -> ((1L, 0L, term(1, 45757L)))))
  }

  test("runsTest: perfectly alternating series — maximal runs, hand z") {
    import graft.operators.Stats
    val e = Seq(10.0, 20.0, 10.0, 20.0).zipWithIndex.map { case (v, d) =>
      (ts(f"2024-01-0${d + 1}%01d 10:00:00"), v)
    }.toDF("t", "v")
    val r = Stats.runsTest(e, "t", "v").head()
    // n=4, n1=2, R=4: mu=3, sigma=sqrt(2/3) -> z = 1224744
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 2L, 4L, 1224744L)))
  }

  test("infoGain: perfect split recovers the full label entropy") {
    import graft.operators.Features
    // bins {1,2}->y0 and {3,4}->y1: H(y) = ln2, pure bins -> IG = H(y)
    val df = Seq((1.0, 1L, 0L), (2.0, 2L, 0L), (3.0, 3L, 1L),
      (4.0, 4L, 1L)).toDF("v", "tie", "y")
    val r = Features.infoGain(df, "v", "tie", "y", 2).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 2L, 693148L, 0L, 693148L)))
  }

  test("sessionStats: bounce rate, depth, dwell over hand sessions") {
    import graft.operators.Events
    // one user: 2-event 10-min session, then a 1-event bounce
    val e = Seq((1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:10:00"), 2L),
      (1L, ts("2024-01-01 11:00:00"), 3L)).toDF("u", "t", "eid")
    val r = Events.sessionStats(e, "u", "t", "eid",
      gapUs = 30L * 60L * 1000000L).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 1L, 500000L, 1500L, 300000000L)))
  }

  test("theilIndex: hand-computed 1:3 split; equality gives 0") {
    import graft.operators.Eval
    // counts 1,3: r = 0.5/1.5 -> terms -346574 + 608198 ->
    // floor(261624/2) = 130812
    val e = Seq((1L, "x"), (2L, "x"), (2L, "x"), (2L, "x"))
      .toDF("u", "pad")
    val r = Eval.theilIndex(e, "u").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((2L, 4L, 130812L)))
    val eq = Seq((1L, "x"), (2L, "x")).toDF("u", "pad")
    assert(Eval.theilIndex(eq, "u").head().getLong(2) == 0L)
  }

  test("charEntropy: hand terms for aab; uniform pair hits ln 2") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "aab"), (2L, "ab")).toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // aab: 270310 + 366204; ab: 2 * 346574 (= ln2 in rounded micros)
    assert(got == Map(1L -> ((3L, 636514L)), 2L -> ((2L, 693148L))))
  }

  test("typeOverlap: user-set Jaccard per type pair") {
    import graft.operators.Events
    val e = Seq(("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L), ("C", 2L),
      ("A", 2L)).toDF("et", "u") // duplicate (A,2) collapses
    val got = Events.typeOverlap(e, "et", "u")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(5))).toMap
    assert(got == Map(("A", "B") -> ((1L, 333333L)),
      ("A", "C") -> ((1L, 500000L)), ("B", "C") -> ((1L, 500000L))))
  }

  test("mcnemar: only discordant pairs count") {
    import graft.operators.Stats
    // (y,a,b): b-discordant x2, c-discordant x1, concordant x1 ->
    // chi2 = (2-1)^2/3 = 1/3
    val df = Seq((1L, 1L, 0L), (1L, 0L, 1L), (1L, 1L, 1L), (0L, 0L, 1L))
      .toDF("y", "a", "b")
    val r = Stats.mcnemar(df, "y", "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 2L, 1L, 333333L)))
  }

  test("cohensD: hand-pooled effect size is exact") {
    import graft.operators.Stats
    // a = {1,3}, b = {5,7}: means 2000/6000 millis, pooled sd
    // sqrt(2e6) -> d = -4000/1414.21... = -2.828427... -> -2828428
    val a = Seq(1.0, 3.0).toDF("v")
    val b = Seq(5.0, 7.0).toDF("v")
    val r = Stats.cohensD(a, b, "v").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((2L, 2L, -2828428L)))
  }

  test("categoricalMi: independence gives 0; perfect dependence gives ln2") {
    import graft.operators.Stats
    val indep = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L))
      .toDF("x", "y")
    assert(Stats.categoricalMi(indep, "x", "y").head().getLong(2) == 0L)
    // perfectly dependent 2x2: per-cell round(1e6*0.5*ln2) = 346574
    val dep = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L))
      .toDF("x", "y")
    val r = Stats.categoricalMi(dep, "x", "y").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      ((4L, 2L, 693148L)))
  }

  test("cramersV: perfect 2x2 dependence gives V = 1 (zero cells count)") {
    import graft.operators.Stats
    // observed (a,1):2 (b,2):2, absent (a,2)/(b,1) contribute (0-1)^2/1
    // each -> chi2 = 4 -> V = sqrt(4/(4*1)) = 1
    val dep = Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L))
      .toDF("x", "y")
    val r = Stats.cramersV(dep, "x", "y").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 2L, 2L, 4000000L, 1000000L)))
  }

  test("hhi: two users 1:3 — HHI 0.625, effective n 1.6") {
    import graft.operators.Eval
    val e = Seq((1L, "x"), (2L, "x"), (2L, "x"), (2L, "x"))
      .toDF("u", "pad")
    val r = Eval.hhi(e, "u").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 4L, 625000L, 1600000L)))
  }

  test("bhFdr: shifted cells reject, on-mean cell keeps p = 1") {
    import graft.operators.Stats
    // a and b sit 5000 millis off the global mean with unit se -> p~0;
    // c matches the global mean exactly -> integer-Delta gate, p = 1e6
    val df = Seq(("a", 0.0), ("a", 0.002), ("b", 10.0), ("b", 10.002),
      ("c", 5.0), ("c", 5.002)).toDF("g", "v")
    val got = Stats.bhFdr(df, "v", Seq("g"), alphaMicros = 100000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getBoolean(4))).toMap
    assert(got == Map("a" -> ((0L, true)), "b" -> ((0L, true)),
      "c" -> ((1000000L, false))))
  }

  test("neymanAllocation: allocation proportional to N_h*sigma_h") {
    import graft.operators.Sampling
    // x: sd 1414.21 -> t 2828; y: sd 2828.42 -> t 5656; T 8484 ->
    // allocations 333 / 666 of 1000 (floors leave 1 slot)
    val df = Seq(("x", 0.0), ("x", 2.0), ("y", 0.0), ("y", 4.0))
      .toDF("st", "v")
    val got = Sampling.neymanAllocation(df, Seq("st"), "v", 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map("x" -> ((2L, 2828L, 333L)),
      "y" -> ((2L, 5656L, 666L))))
  }

  test("anovaF: hand-computed two-group F is exact") {
    import graft.operators.Stats
    // A = {1,2,3}, B = {4,5,6} (deci-units 10..60): ssb = 1350,
    // ssw = 400, F = (1350/1)/(400/4) = 13.5
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val r = Stats.anovaF(df, "v", "g").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 6L, 1350L, 400L, 13500000L)))
  }

  test("anovaF: single group or zero within-variance reports f = 0") {
    import graft.operators.Stats
    val one = Seq(("a", 1.0), ("a", 2.0)).toDF("g", "v")
    assert(Stats.anovaF(one, "v", "g").head().getLong(4) == 0L)
    val flat = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0))
      .toDF("g", "v")
    assert(Stats.anovaF(flat, "v", "g").head().getLong(4) == 0L)
  }

  test("editDistancePairs: blocked pairs within maxDist, distance exact") {
    import graft.operators.EntityResolution
    val recs = Seq((1L, "ab", "kitten"), (2L, "ab", "sitten"),
      (3L, "ab", "sittin"), (4L, "zz", "kitten"))
      .toDF("id", "blk", "s")
    val got = EntityResolution.editDistancePairs(recs, "id", "blk", "s", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // (1,2) sub k→s = 1; (1,3) = 2; (2,3) sub e→i = 1; 4 blocks alone
    assert(got.toSeq == Seq((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L)))
  }

  test("biasBaseline: sequential shrinkage fit is exact at lambda 0") {
    import graft.operators.Pymk
    val r = Seq((1L, "A", 2.0), (1L, "B", 4.0), (2L, "A", 6.0))
      .toDF("u", "i", "r")
    val got = Pymk.biasBaseline(r, "u", "i", "r", lambda = 0L)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // μ = 4; b_u1 = −1, b_u2 = 2; b_A = (−1 + 0)/2 = −.5, b_B = 1
    assert(got == Map(
      "A" -> ((2L, -500000L, 4000000L)),
      "B" -> ((1L, 1000000L, 4000000L))))
  }

  test("churnLabels: gap weeks churn, last week dropped as unknowable") {
    import graft.operators.Events
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00")), // w1
      (1L, ts("2024-01-08 10:00:00")), // w2
      (1L, ts("2024-01-22 10:00:00")), // w4 (skipped w3 → w2 churns)
      (2L, ts("2024-01-02 10:00:00"))  // w1 only → churns
    ).toDF("u", "ts")
    val got = Events.churnLabels(e, "u", "ts")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      "2024-01-01" -> ((2L, 1L, 500000L)),
      "2024-01-08" -> ((1L, 1L, 1000000L))))
    // the max week (2024-01-22) is absent — its label is unknowable
    assert(!got.contains("2024-01-22"))
  }

  test("quantileShift: exact per-quantile values and signed deltas") {
    import graft.operators.Drift
    val base = (1 to 10).map(i => (i.toDouble, i.toLong)).toDF("v", "id")
    val curr = (1 to 10).map(i => (i.toDouble + 2.0, i.toLong))
      .toDF("v", "id")
    val got = Drift.quantileShift(base, curr, "v", "id",
        Seq(500000L, 1000000L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // p50 rank 5 → 5 vs 7; p100 rank 10 → 10 vs 12; shift = +2
    assert(got == Map(
      500000L -> ((5000000L, 7000000L, 2000000L)),
      1000000L -> ((10000000L, 12000000L, 2000000L))))
  }

  test("typeCorrelationMatrix: coupled types +1, opposed types -1, zeros filled") {
    import graft.operators.Events
    // a and b rise together across 3 days; c moves opposite; day 3
    // has NO c events — the dense grid must count that as zero
    def rows(d: String, t: String, k: Int) =
      (1 to k).map(_ => (ts(s"$d 10:00:00"), t))
    val e = (rows("2024-01-01", "a", 1) ++ rows("2024-01-01", "b", 2) ++
      rows("2024-01-02", "a", 2) ++ rows("2024-01-02", "b", 4) ++
      rows("2024-01-03", "a", 3) ++ rows("2024-01-03", "b", 6) ++
      rows("2024-01-01", "c", 2) ++ rows("2024-01-02", "c", 1))
      .toDF("ts", "t")
    val got = Events.typeCorrelationMatrix(e, "ts", "t")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got(("a", "b")) == ((3L, 1000000L)))
    assert(got(("a", "c"))._2 == -1000000L)
    assert(got(("b", "c"))._2 == -1000000L)
  }

  test("systematicSample: every k-th rank under the exact global order") {
    import graft.operators.Sampling
    val df = (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "p")
    val got = Sampling.systematicSample(df, Seq("id"), 3)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 4L, 7L, 10L))
  }

  test("seasonalOutliers: a spike flags against its own weekday only") {
    import graft.operators.Events
    // three Mondays with 2,2,6 events and three Tuesdays flat at 4 —
    // the global median would flag every Tuesday; the weekday band
    // flags only the third Monday
    def day(d: String, k: Int) = (1 to k).map(i => (i.toLong, ts(s"$d 0$i:00:00")))
    val e = (day("2024-01-01", 2) ++ day("2024-01-08", 2) ++
      day("2024-01-15", 6) ++ day("2024-01-02", 4) ++
      day("2024-01-09", 4) ++ day("2024-01-16", 4)).toDF("u", "ts")
    val got = Events.seasonalOutliers(e, "ts")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(5)))
      .toMap
    assert(got("2024-01-15") == ((6L, true)))
    assert(Seq("2024-01-01", "2024-01-08", "2024-01-02", "2024-01-09",
      "2024-01-16").forall(d => !got(d)._2), got.toString)
  }

  test("canonicalUrlDedup: userinfo/port/query variants collapse, min id survives") {
    import graft.operators.UrlOps
    val docs = Seq(
      (5L, "https://user:pw@Example.com:8443/a/b?q=1"),
      (2L, "https://example.com/a/b"),
      (9L, "HTTPS://EXAMPLE.COM/a/b#frag"),
      (7L, "https://example.com/other")).toDF("id", "url")
    val got = UrlOps.canonicalUrlDedup(docs, "id", "url")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map(
      "https://example.com/a/b" -> ((3L, 2L)),
      "https://example.com/other" -> ((1L, 7L))))
  }

  test("mannWhitneyU: disjoint samples give extreme U, exact rank sums") {
    import graft.operators.Stats
    val a = Seq((1.0, 1L), (2.0, 2L), (3.0, 3L)).toDF("v", "id")
    val b = Seq((4.0, 4L), (5.0, 5L), (6.0, 6L)).toDF("v", "id")
    val r = Stats.mannWhitneyU(a, b, "v", "id").head()
    // a holds ranks 1..3 → R_a = 6, U_a = 0, U_b = 9
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 3L, 6L, 0L, 9L)))
    assert(r.getLong(5) < -1900000L) // strongly negative z
    // symmetric swap flips the sign exactly
    val r2 = Stats.mannWhitneyU(b, a, "v", "id").head()
    assert(r2.getLong(3) == 9L && r2.getLong(5) > 1900000L)
  }

  test("woeIv: separating bins carry symmetric WOE, zero cells go NULL") {
    import graft.operators.Features
    val df = (1 to 8).map(i => (i.toDouble, i.toLong,
      if (Seq(4, 6, 7, 8).contains(i)) 1 else 0)).toDF("v", "id", "y")
    val rows = Features.woeIv(df, "v", "id", "y", 2).collect()
    val got = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4))))
      .toMap
    // bin0: 1 pos / 3 neg → WOE = ln(1/3); bin1 mirrored
    assert(got(0L) == ((1L, 3L, Some(-1098612L), Some(549306L))))
    assert(got(1L) == ((3L, 1L, Some(1098612L), Some(549306L))))
    // a pure bin has infinite WOE → NULL, visibly
    val pure = Seq((1.0, 1L, 0), (2.0, 2L, 0), (3.0, 3L, 1), (4.0, 4L, 1))
      .toDF("v", "id", "y")
    val p = Features.woeIv(pure, "v", "id", "y", 2).collect()
    assert(p.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("ltvCurves: per-cohort cumulative value, ltv divides by cohort size") {
    import graft.operators.Events
    // one Monday-anchored cohort of 2 users; u2 never spends again
    val e = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0),
      (2L, ts("2024-01-02 10:00:00"), 2.0),
      (1L, ts("2024-01-08 10:00:00"), 5.0)).toDF("u", "ts", "v")
    val got = Events.ltvCurves(e, "u", "ts", "v", maxOffset = 8)
      .collect().map(r => r.getLong(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // week 0: 12.0 total; week 1: +5.0 → cum 17.0; ltv = cum/2
    assert(got == Map(
      0L -> ((2L, 12000000L, 12000000L, 6000000L)),
      1L -> ((2L, 5000000L, 17000000L, 8500000L))))
  }

  test("timeToConvert: first-start to first-later-conversion, exact quantile ranks") {
    import graft.operators.Events
    // delays: u1 = 100s, u2 = 200s, u3 = 300s; u4 purchases BEFORE
    // signing up (no conversion), u5 never converts
    val e = Seq(
      (1L, ts("2024-01-01 00:00:00"), "signup"),
      (1L, ts("2024-01-01 00:01:40"), "purchase"),
      (2L, ts("2024-01-01 00:00:00"), "signup"),
      (2L, ts("2024-01-01 00:03:20"), "purchase"),
      (3L, ts("2024-01-01 00:00:00"), "signup"),
      (3L, ts("2024-01-01 00:05:00"), "purchase"),
      (4L, ts("2024-01-01 00:05:00"), "signup"),
      (4L, ts("2024-01-01 00:00:00"), "purchase"),
      (5L, ts("2024-01-01 00:00:00"), "signup")).toDF("u", "ts", "t")
    val got = Events.timeToConvert(e, "u", "ts", "t", "signup",
        "purchase", Seq(500000L, 1000000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n=3: p50 rank ceil(1.5)=2 → 200s; p100 rank 3 → 300s
    assert(got == Map(500000L -> 200L, 1000000L -> 300L))
  }

  test("isotonicBins: violators pool to the range mean, monotone stays put") {
    import graft.operators.Eval
    // bin0 mean 1.0, bin9 mean 0.0 — a violation: PAV pools both to .5
    val bad = Seq((50000L, 1), (950000L, 0)).toDF("p", "y")
    val g1 = Eval.isotonicBins(bad, "y", "p").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(g1 == Map(0L -> 500000L, 9L -> 500000L))
    // already-monotone bins are returned untouched
    val ok = Seq((50000L, 0), (950000L, 1)).toDF("p", "y")
    val g2 = Eval.isotonicBins(ok, "y", "p").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(g2 == Map(0L -> 0L, 9L -> 1000000L))
    // output is monotone non-decreasing on real-shaped data
    val mixed = Seq((100000L, 0), (100000L, 1), (300000L, 0),
      (500000L, 1), (700000L, 0), (900000L, 1), (900000L, 1))
      .toDF("p", "y")
    val iso = Eval.isotonicBins(mixed, "y", "p").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1)
    assert(iso.sliding(2).forall(w => w.length < 2 || w(0)._2 <= w(1)._2),
      iso.mkString(","))
  }

  test("ipsEval: exact clipped weights, IPS and SNIPS folds") {
    import graft.operators.Eval
    // k=2; w = 1e12/(2·p): p=5e5 → 1e6, p=2.5e5 → 2e6; no clipping
    val logged = Seq((1L, 500000L), (0L, 250000L)).toDF("r", "p")
    val r = Eval.ipsEval(logged, "r", "p", k = 2, clipMicros = 100000L)
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((2L, 0L, 3000000L, 500000L, 333333L)))
    // a sub-clip propensity clamps to the clip and is counted
    val low = Seq((1L, 50000L)).toDF("r", "p")
    val rc = Eval.ipsEval(low, "r", "p", k = 2, clipMicros = 100000L)
      .head()
    assert((rc.getLong(1), rc.getLong(2)) == ((1L, 5000000L)))
  }

  test("bradleyTerry: 3-1 wins reach the exact 3:1 strength fixed point") {
    import graft.operators.Stats
    val wins = Seq(("a", "b", 3L), ("b", "a", 1L)).toDF("a", "b", "w")
    val got = Stats.bradleyTerry(wins, "a", "b", "w", rounds = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // fixed point P(a>b) = 3/4 → strengths 1.5e6 / 0.5e6 at mean 1e6
    assert(got == Map("a" -> ((1500000L, 3L)), "b" -> ((500000L, 1L))))
  }

  test("heapsFit: doubling vocab per 4x tokens fits beta = 0.5") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      ("g1", "a b a b"),
      ("g2", "c d e f c d e f c d e f c d e f")).toDF("lang", "text")
    val r = TextAnalysis.heapsFit(docs, "text", "lang").head()
    assert(r.getLong(0) == 2L)
    assert(math.abs(r.getLong(1) - 500000L) <= 10L, s"beta ${r.getLong(1)}")
    assert(math.abs(r.getLong(2)) <= 10L, s"lnK ${r.getLong(2)}")
  }

  test("burstiness: metronome is exactly -1, bursts positive, singletons excluded") {
    val e = Seq(
      // u1: perfect 10s metronome → σ = 0 → B = −1
      (1L, ts("2024-01-01 00:00:00"), 1L),
      (1L, ts("2024-01-01 00:00:10"), 2L),
      (1L, ts("2024-01-01 00:00:20"), 3L),
      (1L, ts("2024-01-01 00:00:30"), 4L),
      // u2: two instant hits then a 30s silence → bursty, B > 0
      (2L, ts("2024-01-01 00:00:00"), 5L),
      (2L, ts("2024-01-01 00:00:00"), 6L),
      (2L, ts("2024-01-01 00:00:00"), 7L),
      (2L, ts("2024-01-01 00:00:30"), 8L),
      // u3: one event → no gaps, excluded
      (3L, ts("2024-01-01 00:00:00"), 9L)).toDF("u", "ts", "eid")
    val got = Events.burstiness(e, "u", "ts", "eid")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((3L, 10L, -1000000L)))
    val (n2, m2v, b2) = got(2L)
    assert(n2 == 3L && m2v == 10L && b2 > 0L && b2 < 1000000L)
  }

  test("spearman: identical order is +1, reversed is -1, tie-broken ranks") {
    val df = Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
      .toDF("id", "x", "y")
    val r = graft.operators.Eval.spearman(df, "x", "y", "id").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 0L, 1000000L)))
    val rev = Seq((1L, 10L, 300L), (2L, 20L, 200L), (3L, 30L, 100L))
      .toDF("id", "x", "y")
    val r2 = graft.operators.Eval.spearman(rev, "x", "y", "id").head()
    assert((r2.getLong(1), r2.getLong(2)) == ((8L, -1000000L)))
  }
}
