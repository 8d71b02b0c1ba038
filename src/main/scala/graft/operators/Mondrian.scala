package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  GenericInternalRow, InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuilder

/** Strict Mondrian multidimensional k-anonymization (LeFevre, DeWitt,
  * Ramakrishnan, "Mondrian Multidimensional K-Anonymity", ICDE 2006):
  * recursively bisect the table on the quasi-identifier with the widest
  * normalized range until no group can split without dropping below `k`
  * rows, then generalize each QI to its group's `[lo, hi]` envelope.
  *
  * The reference VALIDATES k-anonymity after the fact
  * (validate_anonymization.py:216-243 — count quasi-identifier
  * combinations, flag groups under k); this operator PRODUCES the
  * k-anonymous generalization that check certifies, closing the loop:
  * anonymize → validate green by construction.
  *
  * Determinism contract (what makes the DuckDB twin possible):
  *
  *  - Dimension choice per group: argmax over QIs of
  *    `(max - min) / globalRange` (zero-range QIs score 0; ties go to
  *    the lowest QI index). A group is FINAL when it has fewer than
  *    `2k` rows or every QI's in-group range is zero. All inputs are
  *    doubles derived identically in both engines, and IEEE arithmetic
  *    is deterministic, so the comparisons agree bit-for-bit.
  *  - Split point: the median POSITION, not an interpolated median
  *    value — rows rank by `(value, id)` and the lower `floor(cnt/2)`
  *    go left. Rank splits sidestep the one cross-engine hazard of
  *    value-based medians (two engines interpolating `(a+b)/2` with
  *    differently-ordered operations can disagree by 1 ulp exactly when
  *    a data value sits on the boundary) and guarantee both children
  *    hold at least `k` rows whenever the parent holds `2k`.
  *  - Relabeling: unsplit `g → 3g`, left child `3g+1`, right `3g+2` —
  *    injective across a round (base-3 heap numbering), so labels never
  *    collide between split and unsplit groups. 39 rounds fit a signed
  *    long (3^39 < 2^62); rank-splits halve groups exactly, so rounds
  *    needed = ceil(log2(n/k)) — 39 covers any n/k below ~5·10^11.
  *
  * Scale shape: distributed rounds while groups are big, then ONE
  * in-task finish. Each distributed round is one small per-group
  * aggregate, a join of the data against it (group-count-sized — AQE
  * broadcasts it while it fits and shuffle-joins on `_gid` once it
  * doesn't), and ONE ranking pass over the data whose physical plan
  * adapts to the round ([[withRank]]): while groups are bigger than a
  * task should sort, range-partition on the sort key and rank with
  * per-partition offsets; once groups are cluster-width, the keyed
  * window. The per-round `localCheckpoint` is load-bearing lineage
  * truncation (the connectedComponents lesson: an uncheckpointed loop
  * doubles the plan every round).
  *
  * Rank splits halve groups exactly, so after `r` rounds no group split
  * in the last round holds more than ceil(n / 2^r) rows, and a bigger
  * group is final. At the first round where that bound is at most
  * [[FinishMaxRows]], the rest of the recursion runs in-task
  * ([[finishInTask]]): the groups still splitting cross one
  * `_gid`-keyed exchange and each task recurses sequentially over its
  * groups. That replaces the last ~log2(FinishMaxRows / k)
  * rounds — ~6 jobs each — with a fixed handful of jobs, and at most
  * 1M rows the round loop never runs at all. Labels are bit-identical
  * to the round loop's (spec-pinned). No driver-side row state
  * anywhere.
  */
object Mondrian {

  private def working(qiCols: Seq[String]): Seq[String] =
    qiCols.indices.map(i => s"_q$i") ++
      Seq("_gid", "_dim", "_cnt", "_rnk", "_gid2", "_side", "_ds", "_mds",
        "_sv", "_c", "_gc", "_n", "_nump", "_gcp", "_num", "_okf", "_mok",
        "_rsv", "_rpid", "_roff", "_rpc", "_rd", "_fin")

  /** A keyed `_gid` window is replaced by the range-partitioned rank
    * only while a single group's sort would EXCEED this many rows: the
    * distributed rank costs an extra range exchange + offsets pass per
    * round, which a one-task sort of a few thousand rows beats easily —
    * the hazard it exists for is the multi-gigabyte round-0 sort of a
    * cluster-scale table (straggler, then OOM, and past 2^31 rows an
    * int row_number overflow). 4M rows is comfortably inside one
    * healthy sort task and far below any of those cliffs.
    */
  private[graft] val RangeRankMinRows: Long = 1L << 22

  /** The most rows of one group the in-task finish ([[finishInTask]])
    * takes. The group's full rows wait in Spark's spillable row buffer;
    * what the recursion holds outside the memory manager is primitive
    * arrays, ~13 B per QI plus ~21 B per row (~47 MB per running task
    * at 1M rows of two QIs), plus ~24 B per QI transiently while
    * presorting. Kept separate from [[RangeRankMinRows]], which sizes
    * spillable sorts only.
    */
  private[graft] val FinishMaxRows: Long = 1L << 20

  /** Rank every row within its `_gid` group by `(splitVal, idCol)` — the
    * median-split rank the relabel and the sensitive-side guards read.
    * Two physical plans, bit-identical ranks:
    *
    *  - BIG-GROUP rounds (fewer than `par` groups — `par` = the
    *    session's shuffle parallelism — while groups still hold more
    *    than [[RangeRankMinRows]] rows, estimated from `nRows / 2^round`
    *    since splits halve exactly): a window keyed on `_gid` alone
    *    would put the WHOLE table into at most `2^round` sort tasks —
    *    round 0 is literally ONE task sorting everything, a
    *    straggler-then-OOM at cluster scale. Instead the frame
    *    range-partitions on `(_gid, splitVal, id)` (each partition then
    *    holds a CONTIGUOUS run of each group's sort order), ranks
    *    within `(partition, group)` through a well-spread window, and
    *    adds the group's row count from all PRECEDING partitions.
    *    Because the partitioning is contiguous in the sort key, the
    *    offsets frame has at most `par + groups - 1` rows — a
    *    broadcast-sized cumulative sum, never driver-side row state.
    *    One persisted RDD pins the partition ids: the offsets pass and
    *    the rank pass must observe ONE layout. A side benefit: the
    *    composed rank is a LONG, so a round-0 "group" bigger than 2^31
    *    rows (a 100 TB table) cannot overflow `row_number`'s int.
    *  - SMALL-GROUP rounds (groups >= par, or every group under the
    *    bound): the keyed window's sort tasks are already healthy; use
    *    it directly — at test scale this is ALSO the faster plan, which
    *    is why the switch is size-aware rather than round-only.
    */
  private[graft] def withRank(
      joined: DataFrame,
      splitVal: Column,
      idCol: String,
      round: Int,
      nRows: Long,
      cacheOut: RDD[_] => Unit = _ => ()
  ): DataFrame = {
    val spark = joined.sparkSession
    val par = spark.conf.get("spark.sql.shuffle.partitions")
      .toIntOption.getOrElse(spark.sparkContext.defaultParallelism)
    if (round >= 31 || (1L << round) >= par ||
      nRows / (1L << round) < RangeRankMinRows) {
      val w = Window.partitionBy(col("_gid")).orderBy(splitVal.asc, col(idCol).asc)
      joined.withColumn("_rnk", row_number().over(w))
    } else {
      // ONE persisted RDD feeds both the offsets pass and the rank pass,
      // so both see one range partitioning. A persisted Dataset does not
      // do this: the self-join re-aliases its second side, whose
      // nondeterministic `_rpid` then misses the cache, and the re-planned
      // range exchange samples other bounds (ranks with gaps and
      // duplicates). The handle goes to `cacheOut` so the caller
      // unpersists at round end.
      val layout = joined
        .withColumn("_rsv", splitVal)
        .repartitionByRange(par, col("_gid"), col("_rsv"), col(idCol))
        .withColumn("_rpid", spark_partition_id())
      val rows = layout.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      cacheOut(rows)
      val ranged = GraftColumnBridge.dataFrame(spark, rows, layout.schema)
      val cum = Window.partitionBy(col("_gid")).orderBy(col("_rpid").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = ranged
        .groupBy(col("_rpid"), col("_gid"))
        .agg(count(lit(1L)).as("_rpc"))
        .withColumn("_roff", coalesce(sum(col("_rpc")).over(cum), lit(0L)))
        .select(col("_rpid"), col("_gid"), col("_roff"))
      val wp = Window.partitionBy(col("_rpid"), col("_gid"))
        .orderBy(col("_rsv").asc, col(idCol).asc)
      ranged.join(broadcast(offsets), Seq("_rpid", "_gid"))
        .withColumn("_rnk", row_number().over(wp) + col("_roff"))
        .drop("_rpid", "_rsv", "_roff")
    }
  }

  /** Label every row with its Mondrian group: returns `df`'s columns
    * plus `_q<i>` (the QIs cast to double — the values the split
    * decisions and [[groupRanges]] read) and the group label `_gid`.
    *
    * With `sensitiveCol` set, splits are additionally l-DIVERSITY
    * constrained (Machanavajjhala et al., "l-Diversity: Privacy Beyond
    * k-Anonymity", ICDE 2006, §6's Mondrian adaptation): a group splits
    * only if BOTH candidate children retain at least `l` distinct
    * sensitive values; a group whose widest-dimension split would
    * concentrate the sensitive attribute becomes FINAL instead (the
    * conservative strict variant — no fallback to narrower dimensions,
    * which keeps the recursion replayable round-for-round). Every final
    * group then satisfies k-anonymity AND distinct-l-diversity, except
    * the root-inherited bound: a group can never offer more distinct
    * values than it inherited, so callers should check the published
    * `n_sensitive` floor on the output (a table with fewer than `l`
    * global sensitive values cannot be l-diverse at all).
    *
    * With `maxTvd` additionally set (requires `sensitiveCol`), splits
    * are t-CLOSENESS constrained (Li, Li, Venkatasubramanian,
    * "t-Closeness: Privacy Beyond k-Anonymity and l-Diversity", ICDE
    * 2007, with total variation distance as the ground metric): a split
    * is refused when either candidate child's sensitive distribution
    * sits more than `maxTvd` from the WHOLE TABLE's distribution — the
    * attacker's baseline — so no published group leaks much more about
    * the sensitive attribute than the table already does. The test
    * compares an integer-exact numerator against `t * 2nN` (one double
    * product), so no float-summation order enters control flow and the
    * recursion stays engine-replayable.
    */
  def anonymize(
      df: DataFrame,
      idCol: String,
      qiCols: Seq[String],
      k: Int,
      maxRounds: Int = 39,
      sensitiveCol: Option[String] = None,
      l: Int = 1,
      maxTvd: Option[Double] = None
  ): DataFrame =
    label(df, idCol, qiCols, k, maxRounds, sensitiveCol, l, maxTvd, FinishMaxRows)

  /** [[anonymize]] with the in-task switch bound as an argument: the
    * recursion finishes in-task at the first round whose groups hold at
    * most `finishRows` rows. Specs pass 0 to force the distributed round
    * loop all the way down, or a small bound to switch at a later round.
    */
  private[graft] def label(
      df: DataFrame,
      idCol: String,
      qiCols: Seq[String],
      k: Int,
      maxRounds: Int,
      sensitiveCol: Option[String],
      l: Int,
      maxTvd: Option[Double],
      finishRows: Long
  ): DataFrame = {
    require(k >= 1, s"mondrian: k must be positive, got $k")
    require(qiCols.nonEmpty, "mondrian: at least one quasi-identifier")
    require(l >= 1, s"mondrian: l must be positive, got $l")
    require(sensitiveCol.forall(df.columns.contains),
      s"mondrian: sensitive column ${sensitiveCol.orNull} not in input")
    require(maxTvd.isEmpty || sensitiveCol.isDefined,
      "mondrian: maxTvd needs a sensitive column")
    require(maxTvd.forall(t => t > 0.0 && t <= 1.0),
      s"mondrian: maxTvd must be in (0, 1], got ${maxTvd.orNull}")
    require(maxRounds >= 0 && maxRounds <= 39,
      s"mondrian: base-3 labels overflow a long past 39 rounds, got $maxRounds")
    val clash = df.columns.toSet.intersect(working(qiCols).toSet)
    require(clash.isEmpty,
      s"mondrian: input collides with working columns ${clash.mkString(",")}")

    var cur = df.select(
      df.columns.map(col) ++
        qiCols.zipWithIndex.map { case (c, i) => col(c).cast("double").as(s"_q$i") } :+
        lit(0L).as("_gid"): _*)

    // global ranges normalize the per-group ranges once, up front; the
    // total row count anchors the t-closeness reference distribution
    val gAggs = count(lit(1L)).as("_nt") +:
      qiCols.indices.flatMap(i => Seq(min(col(s"_q$i")), max(col(s"_q$i"))))
    val gRow = cur.agg(gAggs.head, gAggs.tail: _*).head()
    val nTotal = gRow.getLong(0)
    if (nTotal == 0L) return cur // empty input: zero groups, done
    val grange =
      qiCols.indices.map(i => gRow.getDouble(2 * i + 2) - gRow.getDouble(2 * i + 1))
    // the global sensitive distribution (t-closeness reference):
    // |distinct sensitive values| rows, pinned before the loop mutates
    // `cur`, materialized once
    val gdist = sensitiveCol.filter(_ => maxTvd.isDefined).map { sv =>
      cur.groupBy(col(sv).as("_sv")).agg(count(lit(1L)).as("_gc")).localCheckpoint()
    }

    var round = 0
    var splitting = true
    while (splitting && round < maxRounds) {
      val roundCaches = scala.collection.mutable.Buffer.empty[RDD[_]]
      val statAggs = count(lit(1L)).as("_cnt") +: qiCols.indices.flatMap(i =>
        Seq(min(col(s"_q$i")).as(s"_mn$i"), max(col(s"_q$i")).as(s"_mx$i")))
      val stats = cur.groupBy("_gid").agg(statAggs.head, statAggs.tail: _*)
      val nr: Seq[Column] = qiCols.indices.map { i =>
        if (grange(i) > 0.0) (col(s"_mx$i") - col(s"_mn$i")) / lit(grange(i))
        else lit(0.0)
      }
      val best = if (nr.size == 1) nr.head else greatest(nr: _*)
      val pick = qiCols.indices.reverse.foldLeft(lit(-1)) { (acc, i) =>
        when(nr(i) === best, lit(i)).otherwise(acc)
      }
      val splitVal = qiCols.indices.reverse
        .foldLeft(lit(null).cast("double")) { (acc, i) =>
          when(col("_dim") === i, col(s"_q$i")).otherwise(acc)
        }

      val chose0 = stats.select(
        col("_gid"), col("_cnt"),
        when(col("_cnt") >= lit(2L * k) && best > lit(0.0), pick)
          .otherwise(lit(-1)).as("_dim"))

      // rank splits halve groups exactly, so no group still splitting
      // holds more than ceil(n / 2^round) rows: once that fits a task,
      // finish in-task
      val cap = (nTotal - 1) / (1L << round) + 1
      if (cap <= finishRows)
        return finishInTask(cur, chose0, idCol, round, cap,
          Finish(grange.toArray, k, l, maxRounds, maxTvd, nTotal), sensitiveCol, gdist)

      val (chose, rankedReuse) = sensitiveCol match {
        case None => (chose0, None)
        case Some(sv) =>
          // sensitive-attribute guards: rank the would-split groups with
          // the SAME (value, id) order the relabel uses (the relabel
          // then REUSES these ranks — kept groups keep their dim, and
          // demoted groups never read the rank), then demote any
          // group whose weaker candidate side drops below l distinct
          // sensitive values — or, with maxTvd, whose side's sensitive
          // distribution strays more than t (total variation) from the
          // global reference. The TVD test compares an INTEGER-exact
          // numerator (sum |c*N - gc*n| over present values, plus n*(N -
          // sum gc) for the absent ones — hugeint-style, order-free)
          // against t * 2nN computed as one double product, so no
          // float-summation order ever enters control flow.
          // persisted for the round: the split gate AND the relabel both
          // read the ranked frame and the guard verdicts — without the
          // cache each action re-runs the guard aggregates (a full extra
          // pass per round, and the budgeted job count doubles)
          val ranked = withRank(cur.join(chose0, Seq("_gid")),
            splitVal, idCol, round, nTotal, roundCaches += _).persist()
          val sides = ranked.filter(col("_dim") >= 0)
            .groupBy(col("_gid"), col("_cnt"),
              (col("_rnk") <= floor(col("_cnt") / lit(2))).as("_side"),
              col(sv).as("_sv"))
            .agg(count(lit(1L)).as("_c"))
          val weaker = (maxTvd, gdist) match {
            case (Some(t), Some(gd)) =>
              val dec = "decimal(38,0)"
              // side totals are KNOWN from the rank split — floor(cnt/2)
              // left, the rest right — so no window/shuffle to derive them
              sides.join(gd, Seq("_sv"))
                .withColumn("_n",
                  when(col("_side"), floor(col("_cnt") / lit(2)))
                    .otherwise(col("_cnt") - floor(col("_cnt") / lit(2))))
                .groupBy("_gid", "_side")
                .agg(
                  count(lit(1L)).as("_ds"),
                  max(col("_n")).as("_n"),
                  sum(abs(col("_c").cast(dec) * lit(nTotal) -
                    col("_gc").cast(dec) * col("_n"))).as("_nump"),
                  sum(col("_gc")).as("_gcp"))
                .withColumn("_num",
                  col("_nump") +
                    col("_n").cast(dec) * (lit(nTotal) - col("_gcp")).cast(dec))
                .withColumn("_okf",
                  when(col("_num").cast("double") <=
                    lit(2.0 * t) * col("_n").cast("double") * lit(nTotal.toDouble),
                    lit(1)).otherwise(lit(0)))
                .groupBy("_gid")
                .agg(min(col("_ds")).as("_mds"), min(col("_okf")).as("_mok"))
            case _ =>
              sides.groupBy("_gid", "_side")
                .agg(count(lit(1L)).as("_ds"))
                .groupBy("_gid")
                .agg(min(col("_ds")).as("_mds"), min(lit(1)).as("_mok"))
          }
          val guarded = chose0.join(weaker, Seq("_gid"), "left")
            .select(col("_gid"), col("_cnt"),
              when(col("_dim") >= 0 && coalesce(col("_mds"), lit(0L)) >= l &&
                coalesce(col("_mok"), lit(1)) === 1,
                col("_dim")).otherwise(lit(-1)).as("_dim"))
            .persist()
          (guarded, Some(ranked))
      }

      if (chose.filter(col("_dim") >= 0).isEmpty) splitting = false
      else {
        // guard variants already ranked the rows for chose0's dims;
        // groups the guards kept have the SAME dim (so the same ranks),
        // and demoted groups take the `_dim < 0` branch without reading
        // `_rnk` — reusing the ranks saves a full per-round sort pass
        val rankedAll = rankedReuse match {
          case Some(r) => r.drop("_dim", "_cnt").join(chose, Seq("_gid"))
          case None =>
            withRank(cur.join(chose, Seq("_gid")), splitVal, idCol, round,
              nTotal, roundCaches += _)
        }
        cur = rankedAll
          .withColumn("_gid2",
            when(col("_dim") < 0, col("_gid") * 3)
              .when(col("_rnk") <= floor(col("_cnt") / lit(2)), col("_gid") * 3 + 1)
              .otherwise(col("_gid") * 3 + 2))
          .drop("_gid", "_dim", "_cnt", "_rnk")
          .withColumnRenamed("_gid2", "_gid")
          .localCheckpoint()
        round += 1
      }
      // the round's caches die with the round (the checkpoint above has
      // already materialized everything the next round reads)
      rankedReuse.foreach { r => r.unpersist(); chose.unpersist() }
      roundCaches.foreach(_.unpersist(blocking = false))
    }
    cur
  }

  /** The round loop's split rules, shipped to the in-task finish. */
  private final case class Finish(
      grange: Array[Double], k: Int, l: Int, maxRounds: Int,
      maxTvd: Option[Double], nTotal: Long)

  /** Finishes the recursion inside the tasks, from round `round` on (the
    * REPOSE shape: partition globally, then finish inside each
    * partition). Only groups that can still split cross the one
    * `_gid`-keyed exchange; each task runs [[Group]]'s sequential
    * recursion per group. A leaf carries its base-3 label and the round
    * `c` it went final at; with `R` the deepest leaf's round,
    * `label * 3^(R - c)` is the label the round loop would give it (a
    * final group is relabeled `g -> 3g` once per later round).
    * Everything is materialized by ONE `localCheckpoint`; `R` is read
    * back from it, not re-derived.
    *
    * `cap` = ceil(n / 2^round) bounds every group split last round. A
    * group above it was not split last round, and the rules read
    * nothing but the group's rows, so it is final now too: a zero-range
    * group, or one a guard demoted (`chose0` predates the guards). Such
    * groups, like every `_dim < 0` group, bypass the exchange, so no
    * task ever receives more than `cap` rows of one group.
    */
  private def finishInTask(
      cur: DataFrame,
      chose0: DataFrame,
      idCol: String,
      round: Int,
      cap: Long,
      rules: Finish,
      sensitiveCol: Option[String],
      gdist: Option[DataFrame]
  ): DataFrame = {
    // round 0's one group is the whole table, which fits a task by the
    // switch rule: it goes through unjoined (the recursion re-derives its
    // stats in-task)
    val (done, splitting0) =
      if (round == 0) (None, cur)
      else {
        val dims = cur.join(
          chose0.select(col("_gid"), (col("_dim") < 0 || col("_cnt") > cap).as("_fin")),
          Seq("_gid"))
        (Some(dims.filter(col("_fin")).drop("_fin").withColumn("_rd", lit(round))),
          dims.filter(!col("_fin")).drop("_fin"))
      }
    // t-closeness reads each value's global count: attach it before the
    // exchange with the same equi-join the round loop's guard uses
    val splitting = (sensitiveCol, gdist) match {
      case (Some(sv), Some(gd)) => splitting0.join(gd, col(sv) === col("_sv"), "left").drop("_sv")
      case _ => splitting0
    }
    // rows reach each task grouped by `_gid`, each group in ascending id
    // order, so a row's position in its group is its id rank
    val sorted = splitting.repartition(col("_gid")).sortWithinPartitions(col("_gid"), col(idCol))
    val schema = sorted.schema
    val pos = schema.fieldNames.zipWithIndex.toMap
    val qPos = rules.grange.indices.map(i => pos(s"_q$i")).toArray
    val gidPos = pos("_gid")
    val sv = sensitiveCol.map(c => BoundReference(pos(c), schema(c).dataType, nullable = true))
    val gcPos = gdist.map(_ => pos("_gc"))
    val fields = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable)
    }
    val newBuffer = GraftColumnBridge.spillableRows(cur.sparkSession)
    val finished = sorted.queryExecution.toRdd.mapPartitions { it =>
      val in = it.buffered
      val buffer = newBuffer()
      val toUnsafe = UnsafeProjection.create(fields)
      val svOnly = sv.map(e => UnsafeProjection.create(Seq(e)))
      Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
        // the group's full rows go to the spillable buffer; the recursion
        // reads primitive copies of the QIs and the sensitive fields
        val gid = in.head.getLong(gidPos)
        val qVal = Array.fill(qPos.length)(new ArrayBuilder.ofDouble)
        val qNull = Array.fill(qPos.length)(new ArrayBuilder.ofBoolean)
        val svRows = new ArrayBuilder.ofRef[InternalRow]
        val gcs = new ArrayBuilder.ofLong
        buffer.clear()
        var n = 0L
        while (in.hasNext && in.head.getLong(gidPos) == gid) {
          if (n == cap) throw new IllegalStateException(
            s"mondrian: in-task group $gid holds more than $cap rows")
          val row = in.next()
          buffer.add(row match { case u: UnsafeRow => u case r => toUnsafe(r) })
          qPos.indices.foreach { d =>
            val isNull = row.isNullAt(qPos(d))
            qNull(d) += isNull
            qVal(d) += (if (isNull) 0.0 else row.getDouble(qPos(d)))
          }
          svOnly.foreach(p => svRows += p(row).copy())
          gcPos.foreach(p => gcs += (if (row.isNullAt(p)) -1L else row.getLong(p)))
          n += 1
        }
        val (label, depth) = new Group(qVal.map(_.result()), qNull.map(_.result()),
          sv.map(e => (svRows.result(), e.dataType)), gcs.result(), rules).run(gid, round)
        buffer.iterator.zipWithIndex.map { case (row, i) =>
          new JoinedRow(row, new GenericInternalRow(Array[Any](label(i), depth(i)))): InternalRow
        }
      }
    }
    val outSchema = schema
      .add("_gid2", LongType, nullable = false)
      .add("_rd", IntegerType, nullable = false)
    val inTask = GraftColumnBridge.dataFrame(cur.sparkSession, finished, outSchema)
      .select(cur.columns.map(c => if (c == "_gid") col("_gid2").as(c) else col(c)) :+
        col("_rd"): _*)
    val labeled = done.fold(inTask)(_.unionByName(inTask)).localCheckpoint()
    val r = labeled.agg(max(col("_rd"))).head().getInt(0)
    val pow3 = typedLit((0 to r).map(BigInt(3).pow(_).toLong))
    labeled
      .withColumn("_gid", col("_gid") * element_at(pow3, lit(r + 1) - col("_rd")))
      .select(cur.columns.map(col): _*)
  }

  /** One group's sequential Mondrian recursion on primitive arrays, with
    * the round loop's rules and Spark's semantics throughout: min/max
    * skip nulls, `greatest` skips null ranges, doubles compare with
    * Spark's comparator (NaN largest, -0.0 == 0.0), ranks order by
    * `(value, id)` with nulls first. Row `i` is the group's `i`-th row
    * in ascending id order: `qVal(d)(i)` / `qNull(d)(i)` its QI `d`,
    * `sens` its sensitive value (a one-field row) with the column type,
    * `gcRaw(i)` that value's global count (t-closeness; -1 unmatched).
    *
    * Each QI is presorted ONCE; a split then cuts the chosen QI's sorted
    * slice at `floor(cnt/2)` and partitions every other QI's slice
    * stably, so each level costs O(rows * QIs). Held per row: one double,
    * one boolean and one int (sorted order) per QI, a label, a round, a
    * sensitive-class code and two int/boolean scratch slots. `sens` and
    * `gcRaw` are read once, by the constructor.
    */
  private final class Group(
      qVal: Array[Array[Double]],
      qNull: Array[Array[Boolean]],
      sens: Option[(Array[InternalRow], DataType)],
      gcRaw: Array[Long],
      rules: Finish
  ) {
    import rules._
    private val n = qVal(0).length
    private val m = qVal.length
    private val guarded = sens.isDefined

    /** Row indices in Spark's ascending `(value, id)` order of QI `d`. */
    private def presort(d: Int): Array[Int] = {
      val (nulls, vals) = Array.range(0, n).partition(qNull(d)(_))
      // an order-preserving long image of Spark's double order
      val key = vals.map { i =>
        val v = qVal(d)(i)
        if (v == 0.0) 0L // -0.0 == 0.0
        else {
          val b = java.lang.Double.doubleToLongBits(v) // one canonical NaN
          if (b < 0) b ^ Long.MaxValue else b
        }
      }
      // dense key ranks packed above the index: one primitive sort
      // yields (value, id) order
      val distinct = key.clone()
      java.util.Arrays.sort(distinct)
      var u = 0
      distinct.indices.foreach { j =>
        if (j == 0 || distinct(j) != distinct(j - 1)) { distinct(u) = distinct(j); u += 1 }
      }
      val packed = Array.tabulate(vals.length) { j =>
        (java.util.Arrays.binarySearch(distinct, 0, u, key(j)).toLong << 32) | vals(j)
      }
      java.util.Arrays.sort(packed)
      nulls ++ packed.map(_.toInt)
    }
    private val ord = Array.tabulate(m)(presort)

    // sensitive values as dense class codes under Spark's own ordering,
    // so class equality is Spark's grouping equality (collations, NaN,
    // -0.0 and null as one class included)
    private val code = new Array[Int](n)
    private val nCodes = sens.fold(0) { case (rows, dt) =>
      val o = new InterpretedOrdering(Seq(SortOrder(BoundReference(0, dt, nullable = true), Ascending)))
      val byValue = Array.range(0, n).sortWith((a, b) => o.compare(rows(a), rows(b)) < 0)
      var c = 0
      byValue.indices.foreach { j =>
        if (j > 0 && o.compare(rows(byValue(j - 1)), rows(byValue(j))) != 0) c += 1
        code(byValue(j)) = c
      }
      if (n == 0) 0 else c + 1
    }
    // t-closeness: each class's global count, -1 for a value the global
    // distribution join does not match (null)
    private val gcOf = if (gcRaw.isEmpty) gcRaw else {
      val g = new Array[Long](nCodes)
      (0 until n).foreach(i => g(code(i)) = gcRaw(i))
      g
    }

    private val label = new Array[Long](n)
    private val depth = new Array[Int](n)
    private val mark = new Array[Boolean](n)
    private val scratch = new Array[Int](n)
    private val tally = new Array[Int](nCodes)
    private val seen = new Array[Int](nCodes)

    /** Each row's label and the round it went final at. */
    def run(gid: Long, round: Int): (Array[Long], Array[Int]) = {
      split(0, n, gid, round)
      (label, depth)
    }

    private def split(lo: Int, hi: Int, g: Long, c: Int): Unit = {
      val dim = if (c < maxRounds) widest(lo, hi) else -1
      val mid = lo + (hi - lo) / 2
      if (dim < 0 || !guardsPass(ord(dim), lo, mid, hi))
        (lo until hi).foreach { p => label(ord(0)(p)) = g; depth(ord(0)(p)) = c }
      else {
        partition(dim, lo, mid, hi)
        split(lo, mid, 3 * g + 1, c + 1)
        split(mid, hi, 3 * g + 2, c + 1)
      }
    }

    /** The round loop's `_dim`: the lowest QI whose normalized range is
      * the widest, or -1 for a final group (under `2k` rows, or no
      * positive range).
      */
    private def widest(lo: Int, hi: Int): Int = {
      if (hi - lo < 2L * k) return -1
      var pick = -1
      var best = 0.0
      (0 until m).foreach { d =>
        val o = ord(d)
        var p = lo
        while (p < hi && qNull(d)(o(p))) p += 1
        // a zero-range QI scores a literal 0; an all-null range is null
        val nr =
          if (!(grange(d) > 0.0)) Some(0.0)
          else if (p == hi) None
          else Some((qVal(d)(o(hi - 1)) - qVal(d)(o(p))) / grange(d))
        nr.foreach { r =>
          if (pick < 0 || SQLOrderingUtil.compareDoubles(r, best) > 0) { pick = d; best = r }
        }
      }
      if (pick >= 0 && SQLOrderingUtil.compareDoubles(best, 0.0) > 0) pick else -1
    }

    /** The round loop's l-diversity / t-closeness verdict on the split of
      * `o`'s slice at `mid`.
      */
    private def guardsPass(o: Array[Int], lo: Int, mid: Int, hi: Int): Boolean = !guarded || {
      val sides = Seq(side(o, lo, mid), side(o, mid, hi))
      // the t-closeness census is an inner join: a side with no matched
      // value contributes no verdict
      val present = if (maxTvd.isDefined) sides.filter(_._1 > 0) else sides
      present.nonEmpty && present.map(_._1).min >= l && present.forall(_._2)
    }

    /** (distinct sensitive classes, t-closeness verdict) of one side. */
    private def side(o: Array[Int], from: Int, to: Int): (Int, Boolean) = {
      var ds = 0
      (from until to).foreach { p =>
        val cl = code(o(p))
        if (gcOf.isEmpty || gcOf(cl) >= 0) {
          if (tally(cl) == 0) { seen(ds) = cl; ds += 1 }
          tally(cl) += 1
        }
      }
      val classes = seen.take(ds)
      // integer-exact TVD numerator against t * 2nN as one double product
      val ok = maxTvd.forall { t =>
        val size = (to - from).toLong
        val present = classes.map(cl => (BigInt(tally(cl)) * nTotal - BigInt(gcOf(cl)) * size).abs).sum
        val absent = BigInt(size) * (nTotal - classes.map(gcOf(_)).sum)
        (present + absent).toDouble <= 2.0 * t * size.toDouble * nTotal.toDouble
      }
      classes.foreach(tally(_) = 0)
      (ds, ok)
    }

    /** Splits every other QI's sorted slice stably: left-half rows first. */
    private def partition(dim: Int, lo: Int, mid: Int, hi: Int): Unit = {
      (lo until mid).foreach(p => mark(ord(dim)(p)) = true)
      (0 until m).filter(_ != dim).foreach { d =>
        val o = ord(d)
        var a = lo
        var b = 0
        (lo until hi).foreach { p =>
          val i = o(p)
          if (mark(i)) { o(a) = i; a += 1 } else { scratch(b) = i; b += 1 }
        }
        System.arraycopy(scratch, 0, o, a, b)
      }
      (lo until mid).foreach(p => mark(ord(dim)(p)) = false)
    }
  }

  /** The generalization a Mondrian labeling publishes: one row per
    * group — `group_id` (the group's minimum `idCol` — a deterministic,
    * engine-stable key), `n_rows` (>= k by construction), and each QI's
    * `[<qi>_lo, <qi>_hi]` envelope. Releasing envelopes instead of
    * values is what makes the table k-anonymous: every row inside a
    * group is indistinguishable on the QIs.
    */
  def groupRanges(
      labeled: DataFrame,
      idCol: String,
      qiCols: Seq[String],
      sensitiveCol: Option[String] = None
  ): DataFrame = {
    val aggs = (count(lit(1L)).as("n_rows") +:
      qiCols.zipWithIndex.flatMap { case (c, i) =>
        Seq(min(col(s"_q$i")).as(s"${c}_lo"), max(col(s"_q$i")).as(s"${c}_hi"))
      }) ++
      sensitiveCol.map(sv => countDistinct(col(sv)).as("n_sensitive")).toSeq
    labeled.groupBy("_gid")
      .agg(min(col(idCol)).as("group_id"), aggs: _*)
      .drop("_gid")
  }
}
