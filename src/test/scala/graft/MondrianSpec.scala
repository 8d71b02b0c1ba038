package graft

import org.apache.spark.sql.functions._

import graft.operators.Mondrian

/** Strict Mondrian k-anonymization (operators/Mondrian.scala): the
  * k-floor and partition invariants, the split rule's determinism, and
  * the degenerate shapes (unsplittable input, zero-range QIs, k larger
  * than the table). The engine-equality of the recursion itself is pinned
  * by q_mondrian's unrolled DuckDB twin.
  */
class MondrianSpec extends SparkSpec {
  import spark.implicits._

  private def customers = spark.read
    .parquet("/root/testdata/sf0.001/customer.parquet")
    .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))

  private val qis = Seq("c_nationkey", "c_acctbal")

  test("every published group holds at least k rows and they partition the table") {
    val k = 20
    val labeled = Mondrian.anonymize(customers, "c_custkey", qis, k)
    val ranges = Mondrian.groupRanges(labeled, "c_custkey", qis).collect()
    assert(ranges.nonEmpty)
    assert(ranges.forall(_.getAs[Long]("n_rows") >= k),
      "k-anonymity floor violated")
    assert(ranges.map(_.getAs[Long]("n_rows")).sum == customers.count(),
      "groups must partition the table")
    assert(labeled.select("c_custkey").distinct().count() == customers.count(),
      "no row may be duplicated or dropped")
    assert(ranges.length > 1, "sf0.001 customer at k=20 must actually split")
    // envelopes are honest: every row's QI lies inside its group's range
    val viol = labeled.groupBy("_gid")
      .agg(min(col("_q0")).as("lo0"), max(col("_q0")).as("hi0"),
        min(col("_q1")).as("lo1"), max(col("_q1")).as("hi1"),
        count(lit(1)).as("n"))
      .filter(col("lo0") > col("hi0") || col("lo1") > col("hi1") || col("n") < k)
    assert(viol.isEmpty)
  }

  test("the recursion is deterministic: two runs label identically") {
    val a = Mondrian.anonymize(customers, "c_custkey", qis, 20)
      .select("c_custkey", "_gid").collect().map(_.toSeq).sortBy(_.toString).toSeq
    val b = Mondrian.anonymize(customers, "c_custkey", qis, 20)
      .select("c_custkey", "_gid").collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(a == b)
  }

  test("k above half the table yields the single root group") {
    val n = customers.count()
    val ranges = Mondrian.groupRanges(
      Mondrian.anonymize(customers, "c_custkey", qis, (n / 2 + 1).toInt),
      "c_custkey", qis).collect()
    assert(ranges.length == 1 && ranges.head.getAs[Long]("n_rows") == n)
  }

  test("zero-range QIs never split; a widest-range split halves by rank") {
    // constant dim never chosen; the 0..99 dim splits 100 rows at rank 50
    val df = (0 until 100).map(i => (i.toLong, 7.0, i.toDouble)).toDF("id", "qa", "qb")
    val ranges = Mondrian.groupRanges(
      Mondrian.anonymize(df, "id", Seq("qa", "qb"), k = 25), "id", Seq("qa", "qb"))
      .orderBy("group_id").collect()
    assert(ranges.length == 4, "100 rows at k=25 must halve twice")
    assert(ranges.map(_.getAs[Long]("n_rows")).toSeq == Seq(25L, 25L, 25L, 25L))
    assert(ranges.forall(r => r.getAs[Double]("qa_lo") == 7.0 &&
      r.getAs[Double]("qa_hi") == 7.0))
    // contiguous, non-overlapping qb envelopes — the bisection is by rank
    val bounds = ranges.map(r =>
      (r.getAs[Double]("qb_lo"), r.getAs[Double]("qb_hi"))).toSeq
    assert(bounds == Seq((0.0, 24.0), (25.0, 49.0), (50.0, 74.0), (75.0, 99.0)))
  }

  test("l-diversity guard blocks the split that would concentrate the sensitive value") {
    // qb is the widest QI, so the rank split sends rows 40..79 right —
    // and that side is all-"A": with l=3 the split must be refused and
    // the root published whole; with l=1 the guard is vacuous and the
    // same data splits into 4 groups of 20
    val df = (0 until 80).map { i =>
      val sv = if (i < 40) Seq("A", "B", "C")(i % 3) else "A"
      (i.toLong, i.toDouble, sv)
    }.toDF("id", "qb", "sv")
    val blocked = Mondrian.groupRanges(
      Mondrian.anonymize(df, "id", Seq("qb"), k = 20,
        sensitiveCol = Some("sv"), l = 3),
      "id", Seq("qb"), sensitiveCol = Some("sv")).collect()
    assert(blocked.length == 1, "the concentrating split must be refused")
    assert(blocked.head.getAs[Long]("n_rows") == 80L)
    assert(blocked.head.getAs[Long]("n_sensitive") == 3L)

    val vacuous = Mondrian.groupRanges(
      Mondrian.anonymize(df, "id", Seq("qb"), k = 20,
        sensitiveCol = Some("sv"), l = 1),
      "id", Seq("qb"), sensitiveCol = Some("sv"))
      .orderBy("group_id").collect()
    assert(vacuous.length == 4)
    assert(vacuous.map(_.getAs[Long]("n_rows")).toSeq == Seq(20L, 20L, 20L, 20L))
    // the all-"A" tail really is concentrated — the guard was load-bearing
    assert(vacuous.map(_.getAs[Long]("n_sensitive")).toSeq == Seq(3L, 3L, 1L, 1L))
  }

  test("t-closeness guard blocks the split that would skew the sensitive distribution") {
    // global distribution: 50 A / 30 B (p = 0.625 / 0.375). The rank
    // split on qb sends 0..39 left (20 A / 20 B -> TVD 0.125) and
    // 40..79 right (30 A / 10 B -> TVD 0.125): t = 0.1 refuses the root
    // split outright; t = 0.2 allows it, then blocks ONLY the right
    // child's follow-up (its left side 40..59 is all-A, TVD 0.375)
    // while the left child splits clean — all margins far from the
    // thresholds, so no boundary float sensitivity
    val df = (0 until 80).map { i =>
      val sv =
        if (i < 40) { if (i % 2 == 0) "A" else "B" }
        else if (i < 70) "A"
        else "B"
      (i.toLong, i.toDouble, sv)
    }.toDF("id", "qb", "sv")
    def groupsAt(t: Double) = Mondrian.groupRanges(
      Mondrian.anonymize(df, "id", Seq("qb"), k = 20,
        sensitiveCol = Some("sv"), maxTvd = Some(t)),
      "id", Seq("qb"), sensitiveCol = Some("sv"))
      .orderBy("group_id").collect()

    val tight = groupsAt(0.1)
    assert(tight.length == 1 && tight.head.getAs[Long]("n_rows") == 80L,
      "t=0.1 must refuse the root split (both children at TVD 0.125)")

    val loose = groupsAt(0.2)
    assert(loose.map(r => (r.getAs[Long]("group_id"), r.getAs[Long]("n_rows")))
      .toSeq == Seq((0L, 20L), (20L, 20L), (40L, 40L)),
      "t=0.2 must allow the balanced splits and block only the skewing one")
  }

  test("property: distributed recursion matches a sequential reference on random data") {
    // an independent ~30-line sequential Mondrian (depth-first recursion
    // instead of round-based iteration — the final partition is
    // order-independent because each split decision reads only its own
    // group plus the global ranges), with both guards, compared against
    // the distributed operator on seeded random datasets. Every float
    // the reference computes ((mx-mn)/g, c/n vs global) uses the same
    // IEEE ops as the operator, so agreement is exact, not approximate.
    final case class R(id: Long, qa: Double, qb: Double, sv: String)
    def reference(
        rows: Vector[R], k: Int, lOpt: Option[Int], tOpt: Option[Double]
    ): Set[Vector[Long]] = {
      val g1 = rows.map(_.qa).max - rows.map(_.qa).min
      val g2 = rows.map(_.qb).max - rows.map(_.qb).min
      val gDist = rows.groupBy(_.sv).view.mapValues(_.size.toLong).toMap
      val nTot = rows.size.toLong
      def tvdOk(side: Vector[R]): Boolean = tOpt.forall { t =>
        val n = side.size.toLong
        val cnts = side.groupBy(_.sv).view.mapValues(_.size.toLong).toMap
        val present = cnts.map { case (v, c) =>
          (BigInt(c) * nTot - BigInt(gDist(v)) * n).abs
        }.sum
        // keysIterator, NOT keys.map: mapping the key SET dedupes equal
        // global counts and silently inflates the absent mass
        val absent = BigInt(n) * (nTot - cnts.keysIterator.map(gDist).sum)
        (present + absent).toDouble <= 2.0 * t * n.toDouble * nTot.toDouble
      }
      def lOk(side: Vector[R]): Boolean =
        lOpt.forall(l => side.map(_.sv).distinct.size >= l)
      def split(g: Vector[R]): Vector[Vector[R]] = {
        if (g.size < 2 * k) return Vector(g)
        val nr1 = if (g1 > 0) (g.map(_.qa).max - g.map(_.qa).min) / g1 else 0.0
        val nr2 = if (g2 > 0) (g.map(_.qb).max - g.map(_.qb).min) / g2 else 0.0
        val best = math.max(nr1, nr2)
        if (!(best > 0)) return Vector(g)
        val sorted =
          if (nr1 == best) g.sortBy(r => (r.qa, r.id)) else g.sortBy(r => (r.qb, r.id))
        val (left, right) = sorted.splitAt(g.size / 2)
        if (!(lOk(left) && lOk(right) && tvdOk(left) && tvdOk(right))) Vector(g)
        else split(left) ++ split(right)
      }
      split(rows).map(_.map(_.id).sorted).toSet
    }

    for {
      seed <- Seq(1, 7, 42)
      (lOpt, tOpt) <- Seq(
        (None, None), (Some(3), None), (None, Some(0.22)), (Some(2), Some(0.3)))
    } {
      val rnd = new scala.util.Random(seed)
      val n = 150 + rnd.nextInt(150)
      val rows = Vector.tabulate(n) { i =>
        R(i.toLong, rnd.nextInt(40).toDouble,
          (rnd.nextInt(4000) / 7).toDouble, s"s${rnd.nextInt(6)}")
      }
      val expected = reference(rows, 12, lOpt, tOpt)
      val df = rows.map(r => (r.id, r.qa, r.qb, r.sv)).toDF("id", "qa", "qb", "sv")
      val labeled = Mondrian.anonymize(df, "id", Seq("qa", "qb"), k = 12,
        sensitiveCol = if (lOpt.isDefined || tOpt.isDefined) Some("sv") else None,
        l = lOpt.getOrElse(1), maxTvd = tOpt)
      val got = labeled.select("id", "_gid").collect()
        .groupBy(_.getLong(1)).values
        .map(_.map(_.getLong(0)).sorted.toVector).toSet
      assert(got == expected,
        s"seed=$seed l=$lOpt t=$tOpt: distributed partition diverges from reference")
    }
  }

  /** Each row's `_gid` by id, with the in-task switch at `finishRows`
    * (0 never switches: the round loop all the way down).
    */
  private def labels(df: org.apache.spark.sql.DataFrame, qis: Seq[String], k: Int,
      finishRows: Long, maxRounds: Int = 39, sv: Option[String] = None, l: Int = 1,
      t: Option[Double] = None): Map[String, Long] =
    Mondrian.label(df, "id", qis, k, maxRounds, sv, l, t, finishRows)
      .select(col("id").cast("string"), col("_gid")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("in-task finish: every row's _gid equals the distributed round loop's") {
    // finishRows = 0 never switches (the round loop all the way down);
    // the default switches at round 0 at this size; n/3 switches at
    // round 2. All three must agree on (id, _gid) exactly, not just on
    // the partition.
    def agree(what: String, df: org.apache.spark.sql.DataFrame,
        qis: Seq[String], k: Int, maxRounds: Int = 39,
        sv: Option[String] = None, l: Int = 1, t: Option[Double] = None): Unit = {
      val n = df.count()
      val loop = labels(df, qis, k, 0L, maxRounds, sv, l, t)
      assert(loop.size == n, s"$what: ids must be unique")
      assert(loop.values.toSet.size > 1, s"$what: the case must split")
      for (rows <- Seq(Mondrian.FinishMaxRows, n / 3)) {
        assert(labels(df, qis, k, rows, maxRounds, sv, l, t) == loop,
          s"$what: in-task finish (switch bound $rows) relabels rows")
      }
    }

    // the property test's data and guard settings
    for {
      seed <- Seq(1, 7, 42)
      (lOpt, tOpt) <- Seq(
        (None, None), (Some(3), None), (None, Some(0.22)), (Some(2), Some(0.3)))
    } {
      val rnd = new scala.util.Random(seed)
      val n = 150 + rnd.nextInt(150)
      val df = (0 until n).map { i =>
        (i.toLong, rnd.nextInt(40).toDouble, (rnd.nextInt(4000) / 7).toDouble,
          s"s${rnd.nextInt(6)}")
      }.toDF("id", "qa", "qb", "sv")
      agree(s"seed=$seed l=$lOpt t=$tOpt", df, Seq("qa", "qb"), k = 12,
        sv = if (lOpt.isDefined || tOpt.isDefined) Some("sv") else None,
        l = lOpt.getOrElse(1), t = tOpt)
    }

    // a zero-range group of 100 rows (> 2k) goes final mid-recursion
    agree("zero-range group", (0 until 160).map { i =>
      (i.toLong, 3.0, if (i < 60) i.toDouble else 1000.0)
    }.toDF("id", "qa", "qb"), Seq("qa", "qb"), k = 10)

    // five split values, each shared by 40 rows: the id breaks the ties,
    // and ids are not in value order
    agree("ties on the split value", (0 until 200).map { i =>
      ((i * 37 % 200).toLong, (i % 5).toDouble, (i % 3).toDouble)
    }.toDF("id", "qa", "qb"), Seq("qa", "qb"), k = 7)

    // non-ASCII string ids on tied values: Spark orders strings by UTF-8
    // bytes, which puts U+FF5E below U+1F600 (UTF-16 order says the
    // opposite), so the tie-break must use Spark's comparator
    val names = Seq("\uFF5E", "\uD83D\uDE00", "é", "z", "日本", "Ω", "a", "\u00A0")
    agree("non-ASCII string ids", (0 until 160).map { i =>
      (s"${names(i % names.size)}${i / names.size}", (i % 4).toDouble, (i % 7).toDouble)
    }.toDF("id", "qa", "qb"), Seq("qa", "qb"), k = 5)

    // maxRounds stops the recursion at depth 2, well before minimality
    agree("maxRounds reached", (0 until 300).map(i => (i.toLong, i.toDouble))
      .toDF("id", "qa"), Seq("qa"), k = 5, maxRounds = 2)

    // null and signed-zero QI values take Spark's semantics: nulls rank
    // first, -0.0 ties 0.0 and min/max skip nulls; a NaN makes its QI's
    // global range NaN, which scores 0 like a zero range
    agree("nulls, signed zeros and NaN", (0 until 240).map { i =>
      val qa: java.lang.Double = i % 11 match {
        case 0 => null
        case 1 => -0.0
        case 2 => 0.0
        case r => r.toDouble
      }
      (i.toLong, qa, (i * 7 % 240).toDouble, if (i % 13 == 0) Double.NaN else i.toDouble)
    }.toDF("id", "qa", "qb", "qc"), Seq("qa", "qb", "qc"), k = 6)
  }

  test("in-task finish: a guard-demoted group over the switch bound stays out of the tasks") {
    // 400 rows on one QI: round 0 splits ids 0-199 from 200-399; round 1
    // would split 0-199 into an all-"a" and an all-"b" half, which both
    // guards refuse, while 200-399 (alternating "c"/"d") keeps splitting.
    // With a 100-row bound the switch comes at round 2, where the
    // demoted 200-row group is splittable by range and count alone. It
    // must bypass the exchange: the finish refuses any group above the
    // bound, so agreeing with the round loop also proves no task took it.
    val df = (0 until 400).map { i =>
      (i.toLong, i.toDouble,
        if (i < 100) "a" else if (i < 200) "b" else if (i % 2 == 0) "c" else "d")
    }.toDF("id", "qa", "sv")
    for ((l, t) <- Seq((2, None), (1, Some(0.6)))) {
      val loop = labels(df, Seq("qa"), k = 2, finishRows = 0L, sv = Some("sv"), l = l, t = t)
      assert(loop.values.groupBy(identity).values.map(_.size).max == 200,
        s"l=$l t=$t: the 200-row group must be guard-demoted")
      assert(labels(df, Seq("qa"), k = 2, finishRows = 100L, sv = Some("sv"), l = l, t = t) == loop,
        s"l=$l t=$t: in-task finish at round 2 relabels rows")
    }
  }

  test("in-task finish: wide rows wait in Spark's spillable buffer") {
    // the recursion holds only the QIs (and sensitive values) in task
    // memory; the full rows go to the window operator's row buffer,
    // which spills past its threshold instead of holding ~4 KB rows
    val df = (0 until 2000).map { i =>
      (i.toLong, (i % 37).toDouble, (i * 13 % 2000).toDouble, "x" * 4000 + i)
    }.toDF("id", "qa", "qb", "pad")
    val loop = labels(df, Seq("qa", "qb"), k = 5, finishRows = 0L)
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => spilled.addAndGet(m.memoryBytesSpilled))
    }
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "16")
    spark.conf.set("spark.sql.windowExec.buffer.spill.threshold", "64")
    sc.addSparkListener(listener)
    val finished = try labels(df, Seq("qa", "qb"), k = 5, finishRows = Mondrian.FinishMaxRows)
    finally {
      org.apache.spark.GraftListenerBus.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
      spark.conf.unset("spark.sql.windowExec.buffer.in.memory.threshold")
      spark.conf.unset("spark.sql.windowExec.buffer.spill.threshold")
    }
    assert(finished == loop, "wide rows: in-task finish relabels rows")
    assert(spilled.get > 0L, "the finish's row buffer never spilled")
  }

  test("early-round rank: range-partitioned plan, bit-identical to the keyed window") {
    // round 0's _gid-keyed window is a SINGLE task sorting the whole
    // table (every row carries gid 0) — the scale-killer the r8 verdict
    // flagged. withRank must (a) produce exactly the keyed window's
    // ranks and (b) physically rank through the range-partitioned
    // (partition, group) window in early rounds, never a one-partition
    // sort of the data.
    val rnd = new scala.util.Random(7)
    val rows = (1 to 5000).map { i =>
      (i.toLong, rnd.nextInt(4).toLong, rnd.nextDouble(), rnd.nextInt(2000))
    }
    val joined = rows.toDF("id", "_gid", "_q0", "_noise")
      .withColumn("_dim", lit(0))
      .withColumn("_cnt", lit(5000L))
    val sv = when(col("_dim") === 0, col("_q0")).otherwise(lit(null).cast("double"))

    // nRows above the bound forces the big-group plan; round 30 (groups
    // >= parallelism) and a small table each take the keyed window
    val big = Mondrian.RangeRankMinRows * 16
    val early = Mondrian.withRank(joined, sv, "id", round = 0, nRows = big)
    val late = Mondrian.withRank(joined, sv, "id", round = 30, nRows = big)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("_gid"), col("_rnk").cast("long"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(ranks(early) == ranks(late),
      "range-partitioned ranks must equal the keyed window's exactly")

    // plan shape: the big-group round-0 window partitions by
    // (_rpid, _gid) — cluster-width — and the data-sized sort is
    // range-partitioned
    val plan = early.queryExecution.executedPlan.toString
    assert(plan.contains("_rpid"),
      s"round-0 rank over a big table must go through the " +
        s"(partition, group) window:\n$plan")
    // late rounds keep the straight keyed window (no offset machinery),
    // and so does a table whose round-0 sort fits one healthy task —
    // the size-aware switch is what keeps small-scale runs on the
    // cheaper plan
    val latePlan = late.queryExecution.executedPlan.toString
    assert(!latePlan.contains("_rpid"))
    val small = Mondrian.withRank(joined, sv, "id", round = 0, nRows = 5000L)
    assert(!small.queryExecution.executedPlan.toString.contains("_rpid"))
    assert(ranks(small) == ranks(late))

    // ranks are longs on the range path: a >2^31-row round-0 group
    // cannot overflow (the keyed path would; it is never used there)
    assert(early.schema("_rnk").dataType ==
      org.apache.spark.sql.types.LongType)

    // one 20k-row group read from a checkpoint, as the round loop feeds
    // it: the range exchange samples its bounds, so an offsets pass that
    // re-planned the exchange would see another layout (ranks with gaps
    // and duplicates). The ranks must be exactly 1..n, as keyed.
    val one = spark.range(0, 20000, 1, 4)
      .select(col("id"), ((col("id") * 7919) % 10007).cast("double").as("_q0"),
        lit(0L).as("_gid"), lit(0).as("_dim"), lit(20000L).as("_cnt"))
      .localCheckpoint()
    val oneSv = when(col("_dim") === 0, col("_q0")).otherwise(lit(null).cast("double"))
    val oneEarly = Mondrian.withRank(one, oneSv, "id", round = 0, nRows = big)
    assert(oneEarly.queryExecution.executedPlan.toString.contains("_rpid"))
    val oneKeyed = ranks(Mondrian.withRank(one, oneSv, "id", round = 30, nRows = big))
    val differ = ranks(oneEarly).zip(oneKeyed).count { case (a, b) => a != b }
    assert(differ == 0, s"range-partitioned ranks over a checkpointed group: " +
      s"$differ of ${oneKeyed.size} rows differ from the keyed window's")
  }

  test("all-constant QIs and empty input both return the root labeling") {
    val const = (0 until 60).map(i => (i.toLong, 1.0, 2.0)).toDF("id", "qa", "qb")
    val r = Mondrian.groupRanges(
      Mondrian.anonymize(const, "id", Seq("qa", "qb"), k = 10), "id", Seq("qa", "qb"))
      .collect()
    assert(r.length == 1 && r.head.getAs[Long]("n_rows") == 60L)
    val empty = spark.emptyDataset[(Long, Double, Double)].toDF("id", "qa", "qb")
    assert(Mondrian.anonymize(empty, "id", Seq("qa", "qb"), 5).count() == 0L)
  }
}
