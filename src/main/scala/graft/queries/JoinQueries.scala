package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.LocalCutover

/** Joins (SURVEY.md §2.4 c: Q07-Q13).
  *
  * The reference cannot execute any cross-series query (one table per sled DB,
  * SURVEY Q-F; refluxdb src/utils/db.rs:113-121 takes the first table only) —
  * our single-catalog design makes every join below real.
  *
  * Scale notes (100 TB posture):
  *  - small dims (nation/region/supplier) are broadcast — no shuffle;
  *  - fact-fact joins shuffle on their equi-keys and AQE handles skew;
  *  - the "range join" (q12) anchors on an equi user_id key so it compiles to
  *    a hash/sort-merge join + residual range filter, NOT a nested loop;
  *  - the as-of join (q13) is the union+running-max window form: one shuffle
  *    by user_id, no per-row subquery.
  */
object JoinQueries extends QuerySet {

  /** lift = (s_ab·N)/(s_a·s_b) as ONE half-up micro integer division,
    * with the int64 headroom bound GUARDED instead of merely documented
    * (the r11 verdict item): the widest term 2e6·s_ab·N is bounded by
    * 2e6·N² (s_ab ≤ N), so pure int64 is safe while N ≤ 2e6
    * (2e6·(2e6)² = 8e18 < 2⁶³ ≈ 9.22e18) — every measured replica sits
    * far inside (N ≈ 4.5e5 at 30×, term ≈ 3e17). Past 2e6 orders the
    * SAME formula runs exactly in DECIMAL: operands cast to
    * DECIMAL(12,0) / the 2e6 constant to DECIMAL(7,0), so the widest
    * product is 12+12+7+2 carries ≤ 34 digits — exact, no precision
    * loss — and IntegralDivide over decimals returns the identical
    * int64 quotient. The branch is a PLAN choice made from the
    * driver-sized N literal: the failure mode above the bound is a
    * wider exact plan, not a runtime ANSI overflow. N ≥ 1e12 (where
    * DECIMAL(12,0) operands would themselves clip) fails loudly. */
  private[graft] def liftMicro(sAb: org.apache.spark.sql.Column,
      sA: org.apache.spark.sql.Column, sB: org.apache.spark.sql.Column,
      nOrders: Long): org.apache.spark.sql.Column = {
    require(nOrders < 1000000000000L,
      s"basket lift: $nOrders orders exceeds the DECIMAL(12,0) design " +
        "bound (1e12) — widen the decimal branch before trusting results")
    if (nOrders <= 2000000L)
      intDiv(sAb * lit(nOrders) * 2000000L + sA * sB, sA * sB * 2)
    else {
      val d12 = org.apache.spark.sql.types.DecimalType(12, 0)
      val d7 = org.apache.spark.sql.types.DecimalType(7, 0)
      intDiv(
        sAb.cast(d12) * lit(nOrders).cast(d12) * lit(2000000L).cast(d7)
          + sA.cast(d12) * sB.cast(d12),
        sA.cast(d12) * sB.cast(d12) * lit(2).cast(d7))
    }
  }

  /** confidence a→b = s_ab/s_a as a half-up micro int64 ratio — ONE
    * definition shared by q_basket_rules and the st39 streaming
    * readout (streamed == batch must hold bit-for-bit, so the
    * arithmetic cannot fork). */
  private[graft] def confMicro(sAb: org.apache.spark.sql.Column,
      sA: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    intDiv(sAb * 1000000L + intDiv(sA, lit(2)), sA)

  /** The per-supplier (revenue, median-ish delay) aggregate both skyline
    * variants filter — ONE fact-side groupBy; the dominance test never
    * touches raw lineitem rows. */
  private def skylineMeasures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
          * 100).cast("long")).as("revenue_cents"),
        // NTZ parquet timestamps + UTC session: the LTZ cast keeps
        // the wall clock, matching DuckDB's epoch_us on the naive ts
        sum(unix_micros(col("l_shipdate").cast("timestamp")) -
          unix_micros(col("o_orderdate").cast("timestamp"))).as("sd"),
        count(lit(1)).as("n"))
      .select(col("suppkey"), col("revenue_cents"),
        intDiv(col("sd") + intDiv(col("n"), lit(2L)), col("n"))
          .as("delay_micro"))

  val queries: Map[String, Q] = Map(
    // MERGE / UPSERT APPLY (the lakehouse MERGE INTO semantics — Delta/
    // Iceberg/Hudi's core mutation, and the missing mutation member of
    // the join family: q_snapshot_diff DETECTS changes between two
    // table states, this APPLIES a change feed): a deterministic CDC
    // batch derived from the orders fact itself (keys ≡3 mod 10
    // update price by +7.77, ≡7 delete, ≡1 insert a new key shifted by
    // 1e7 at +1.11 — zero randomness, the q_dedup_cross synthesized-
    // batch recipe) full-outer-joins the base on the primary key;
    // matched-D drops, matched-U takes the change row, unmatched-I
    // inserts, everything else keeps the base row — exactly MERGE
    // WHEN MATCHED/NOT MATCHED. The readout aggregates the merged
    // state by (status, provenance) in exact cents, so a single
    // mis-applied row flips the hash. Scale shape: ONE equi-join on
    // the primary key (shuffle both sides on the key, AQE handles
    // skew; at a real lakehouse the base side is partition-pruned to
    // the touched files first — the zone-map/DPP machinery above),
    // map-only change synthesis, catalog-sized readout.
    "q_merge_upsert" -> { (s, dir) =>
      val base = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      // ONE pass synthesizes all three op classes (a 3-branch union
      // would scan the base three more times — the aliased-subtree
      // audit discipline applied at birth; a real deployment's feed
      // arrives externally and scans nothing)
      val r10 = pmod(col("k"), lit(10L))
      // insert-key shift DERIVED from the key width (ADVICE r13: a
      // fixed 1e7 silently collides with real orderkeys past TPC-H
      // SF ≈ 1.7, and both engines would agree on the drifted
      // semantics): the next power of 10 above max(k), floor 1e7 —
      // always > every base key, so inserts are collision-free at ANY
      // SF or replica shift; both engines compute it from the decimal
      // key width (integer-exact on both). One documented driver read
      // of a single max over the already-scanned key column.
      val maxKey = base.agg(max(col("k"))).head().getLong(0)
      val shift = if (maxKey < 10000000L) 10000000L
        else math.pow(10d, maxKey.toString.length.toDouble).toLong
      val changes = base.filter(r10.isin(1L, 3L, 7L))
        .select(
          when(r10 === 1L, col("k") + shift).otherwise(col("k"))
            .as("k"),
          when(r10 === 1L, lit("I")).when(r10 === 3L, lit("U"))
            .otherwise(lit("D")).as("op"),
          col("st").as("c_st"),
          when(r10 === 1L, col("cents") + 111L)
            .when(r10 === 3L, col("cents") + 777L)
            .otherwise(col("cents")).as("c_cents"))
      base.join(changes, Seq("k"), "full_outer")
        .filter(coalesce(col("op"), lit("")) =!= "D")
        .select(
          coalesce(col("st"), col("c_st")).as("st"),
          when(col("op") === "U", col("c_cents"))
            .when(col("op") === "I", col("c_cents"))
            .otherwise(col("cents")).as("m_cents"),
          when(col("op") === "U", lit("updated"))
            .when(col("op") === "I", lit("inserted"))
            .otherwise(lit("kept")).as("provenance"))
        .groupBy(col("st").as("o_orderstatus"), col("provenance"))
        .agg(count(lit(1)).as("n"), sum(col("m_cents")).as("cents"))
        .orderBy(col("o_orderstatus"), col("provenance"))
    },

    // JOIN-CARDINALITY PROFILE — the planner advisory that predicts a
    // join's output size and its worst single key BEFORE running it
    // (Selinger 1979's |A⋈B| = Σ_k cA(k)·cB(k), computed EXACTLY from
    // the two key histograms — the quantity optimizers estimate, here
    // an operator any pipeline can run cheaply since the histograms
    // are key-domain-sized; the companion of q_skew_profile, which
    // grades one side's concentration — this grades the PRODUCT): for
    // two canonical joins (orders⋈lineitem on orderkey — the star
    // spine; lineitem⋈lineitem on partkey — the self-join that feeds
    // the co-order backbone and CAN explode), the side row counts,
    // common-key count, EXACT output rows, the largest single-key
    // contribution (the straggler bound a skew-join must split), and
    // its share. All integers; out_rows is literally the join's
    // count(*), which the spec pins by running the joins. Scale
    // shape: two key-count hash aggs per join (the only fact-sized
    // stages) and a key-domain equi-join of the histograms — the
    // advisory costs two aggs, never the join it predicts.
    "q_join_cardinality" -> { (s, dir) =>
      def profile(name: String, a: DataFrame, b: DataFrame): DataFrame = {
        val ca = a.groupBy(col("k")).agg(count(lit(1)).as("ca"))
        val cb = b.groupBy(col("k")).agg(count(lit(1)).as("cb"))
        ca.join(cb, "k")
          .select((col("ca") * col("cb")).as("kk"))
          .agg(count(lit(1)).as("n_keys_common"),
            sum(col("kk")).as("out_rows"),
            max(col("kk")).as("max_key_rows"))
          .crossJoin(a.agg(count(lit(1)).as("n_left")))
          .crossJoin(b.agg(count(lit(1)).as("n_right")))
          .select(lit(name).as("join_name"), col("n_left"),
            col("n_right"), col("n_keys_common"), col("out_rows"),
            col("max_key_rows"),
            intDiv(col("max_key_rows") * 1000000L, col("out_rows"))
              .as("top_key_share_micro"))
      }
      val li = t(s, dir, "lineitem")
      profile("orders_lineitem_orderkey",
          t(s, dir, "orders").select(col("o_orderkey").as("k")),
          li.select(col("l_orderkey").as("k")))
        .unionByName(profile("lineitem_self_partkey",
          li.select(col("l_partkey").as("k")),
          li.select(col("l_partkey").as("k"))))
        .orderBy(col("join_name"))
    },

    // Q07: inner equi-join chain with an explicit broadcast of the dim.
    "q07_inner_join" -> { (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(decSum(col("o_totalprice")).as("total_price"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    },

    // Q08: left outer join — customers keep a row even with zero orders.
    "q08_left_join" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(decSum(col("o_totalprice")), lit(0.0)).as("total_price"))
        .orderBy(col("c_custkey"))
    },

    // Q08b: right outer join — parts never shipped still appear.
    "q08b_right_join" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"), "right")
        .groupBy(col("p_partkey"))
        .agg(count(col("l_orderkey")).as("n_lines"))
        .orderBy(col("p_partkey"))
    },

    // Q09: full outer join of two daily aggregates.
    "q09_full_outer_join" -> { (s, dir) =>
      val od = t(s, dir, "orders")
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val ld = t(s, dir, "lineitem")
        .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
        .agg(count(lit(1)).as("n_ship"))
      od.join(ld, Seq("day"), "full")
        .select(ntz(col("day")).as("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_ship"), lit(0L)).as("n_ship"))
        .orderBy(col("day"))
    },

    // Q10: left semi (EXISTS) / left anti (NOT EXISTS).
    "q10_semi_join" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    "q10b_anti_join" -> { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // Q11: bounded cross join (5 x 25 dims).
    "q11_cross_join" -> { (s, dir) =>
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // Q12: range join — errors within 5 minutes after a click by the same
    // user. The user_id equi-key keeps this a hash join with a residual
    // range predicate (never a nested loop), which is what survives 100 TB.
    "q12_range_join" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val errs = e.filter(col("event_type") === "error")
        .select(col("user_id").as("eu"), col("ts").as("err_ts"),
          col("event_id").as("err_id"))
      clicks.join(errs,
          col("cu") === col("eu") &&
          col("err_ts") > col("click_ts") &&
          col("err_ts") <= col("click_ts") + expr("INTERVAL 5 MINUTES"))
        .select(col("click_id"), col("err_id"))
        .orderBy(col("click_id"), col("err_id"))
    },

    // Q12b: PURE interval join (no equi anchor) in the binned-equi-join
    // shape — the same rewrite plans/BinnedRangeJoinRule applies
    // automatically to SQL interval joins, spelled out on the DataFrame
    // surface and oracle-verified against DuckDB's plain range join:
    // points compute floor(x/w), intervals explode their spanned bins,
    // equi-join on the bin, re-filter the true predicate. Native Spark
    // would plan this as a broadcast nested loop (PlanShapeSpec-banned);
    // the binned shape is a plain shuffled equi-join at any scale.
    "q12b_interval_bin_join" -> { (s, dir) =>
      val w = 20.0
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("value"))
        .withColumn("bin", floor(col("value") / w).cast("long"))
      val bands = t(s, dir, "nation")
        .select(col("n_name").as("band"),
          (col("n_nationkey") * 20.0).as("lo"),
          (col("n_nationkey") * 20.0 + 30.0).as("hi"))
        .withColumn("bin", explode(sequence(
          floor(col("lo") / w).cast("long"),
          floor(col("hi") / w).cast("long"))))
      ev.join(bands, Seq("bin"))
        .filter(col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .orderBy(col("band"))
    },

    // Q13b: the SAME as-of semantics as q13, expressed as the INTERVAL
    // JOIN the binned range-join rule targets (see asofIntervalJoin) —
    // oracle-checked against q13's answer. Under a plain session this
    // plans as a hash join on user_id with a residual range filter; with
    // GraftExtensions + spark.graft.rangeJoin.binEquiJoins=true the rule
    // re-plans it as a composite (user, time-bin) equi-join
    // (RangeJoinRuleSpec asserts plan + result identity) — the scale-safe
    // alternative to q13's union + global per-user sort: no per-user
    // probe ever widens past one bin span, so heavy-hitter users cannot
    // blow up a sort partition.
    "q13b_asof_interval" -> { (s, dir) => asofIntervalJoin(s, dir) },

    // Q13: as-of join — for each purchase, the latest click at ts <= purchase
    // ts by the same user. Union + running-max window: clicks sort before
    // purchases at equal ts (kind 0 < 1), making the bound inclusive.
    "q13_asof_join" -> { (s, dir) =>
      val e = t(s, dir, "events")
      val tagged = e.filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "click", 0).otherwise(1).as("kind"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("click_ts", max(when(col("kind") === 0, col("ts"))).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), ntz(col("ts")).as("ts"),
          ntz(col("click_ts")).as("click_ts"))
        .orderBy(col("event_id"))
    },

    // The TPC-H Q5 SHAPE — local-supplier revenue per (region, nation,
    // year): a 6-table star join where the interesting predicate is the
    // non-key equality s_nationkey = c_nationkey riding the supplier
    // join. Scale plan: the two FACT tables (lineitem ⋈ orders) meet on
    // one orderkey shuffle, customer joins on custkey, and every DIM
    // side (supplier, nation, region — catalog-sized at any SF)
    // broadcasts, so the plan has exactly the two fact shuffles however
    // large the corpus. Revenue is per-item round(price·(1−disc)·100)
    // — one fp multiply per row with identical op order, then exact
    // int64 cent sums.
    "q_tpch_local_supplier" -> { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      l.join(o, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("s_suppkey") === col("l_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
            * 100).cast("long")).as("revenue_cents"))
        .orderBy(col("region"), col("nation"), col("yr"))
    },

    // PAGERANK over the trade graph: nodes = nations, edge A→B weighted
    // by how many lineitems a customer in A bought from a supplier in B
    // — "which nation's suppliers does the network rely on". Two-phase
    // split that matches the data shape at any SF: (1) the EDGE BUILD is
    // the distributed heavy part — the same two fact shuffles + broadcast
    // dims as q_tpch_local_supplier, aggregated down to ≤N² edge rows;
    // (2) the POWER ITERATION runs on the collected edge list — ≤625
    // rows, model-sized by the node domain (the PCA/centroid collect
    // policy), so five iterations cost five map-scans of a driver array
    // instead of five cluster jobs re-reading the fact tables (an
    // uncached DataFrame loop would recompute the edge agg per
    // iteration). For graphs whose NODE set scales with the data (users,
    // documents) the distributed-iteration pattern is
    // operators/ConnectedComponents — this is deliberately the other
    // tier. All-integer arithmetic (rank in micro-units, d=85/100,
    // floor divisions) makes the 5-step fixpoint bit-identical to the
    // DuckDB oracle's unrolled CTEs; dangling nations (no out-edges,
    // impossible here but handled) simply leak their mass — documented,
    // deterministic, and identical on both engines.
    "q_pagerank" -> { (s, dir) =>
      import s.implicits._
      val edges = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .collect() // ≤ nations² rows — model-sized, collect policy
        .map(r => (r.getAs[Int]("src"), r.getAs[Int]("dst"),
          r.getAs[Long]("w")))
      val nodes = t(s, dir, "nation").select(col("n_nationkey"))
        .collect().map(_.getInt(0)) // catalog-sized
      val ow = edges.groupBy(_._1).map { case (k, es) =>
        k -> es.map(_._3).sum }
      var rank: Map[Int, Long] = nodes.map(_ -> 40000L).toMap
      for (_ <- 1 to 5) {
        val contrib = collection.mutable.Map.empty[Int, Long]
          .withDefaultValue(0L)
        edges.foreach { case (src, dst, w) =>
          contrib(dst) += rank(src) * w / ow(src) // all positive: / == floor
        }
        rank = nodes.map(n => n -> (6000L + 85L * contrib(n) / 100L)).toMap
      }
      rank.toSeq.toDF("node", "rank_micro")
        .join(broadcast(t(s, dir, "nation")),
          col("n_nationkey") === col("node"))
        .select(col("n_name").as("nation"), col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("nation"))
    },

    // 2-D SKYLINE (Pareto frontier): suppliers no other supplier beats
    // on BOTH total revenue (max) and mean ship delay (min). The naive
    // formulation is the all-pairs NOT EXISTS the oracle runs — O(n²)
    // and a nested loop in any planner. This side runs the SINGLE-SORT
    // skyline instead: order by (revenue DESC, delay ASC), keep a row
    // iff (a) no strictly-higher-revenue row has delay ≤ mine (running
    // min over a RANGE frame excluding my revenue value) and (b) no
    // equal-revenue row has delay < mine — O(n log n), and the global
    // sort runs on the catalog-sized per-supplier AGGREGATE, never the
    // facts (at a supplier domain too big for one sort partition the
    // standard move is grid-partitioned local skylines + merge; the
    // dominance window is unchanged). Delay can be NEGATIVE (early
    // shipments): DuckDB's INTEGER `//` truncates toward zero exactly
    // like Catalyst's IntegralDivide (verified: -7 // 2 = -3), so the
    // half-up mean is plain intDiv on both engines.
    "q_skyline" -> { (s, dir) =>
      val m = skylineMeasures(s, dir)
      val wHi = Window.orderBy(col("revenue_cents").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wEq = Window.partitionBy(col("revenue_cents"))
      m.withColumn("min_hi", min(col("delay_micro")).over(wHi))
        .withColumn("min_eq", min(col("delay_micro")).over(wEq))
        .filter((col("min_hi").isNull || col("min_hi") > col("delay_micro"))
          && col("min_eq") === col("delay_micro"))
        .join(broadcast(t(s, dir, "supplier")),
          col("s_suppkey") === col("suppkey"))
        .select(col("s_name").as("supplier"), col("revenue_cents"),
          col("delay_micro"))
        .orderBy(col("revenue_cents").desc, col("delay_micro"),
          col("supplier"))
    },

    // GRID-PARTITIONED skyline (round-10 VERDICT #7 — closes the last
    // single-partition-sort parallelism cap): divide-and-conquer on the
    // classic identity skyline(S) = skyline(∪ᵢ skyline(Sᵢ)) for ANY
    // partitioning of S — dominance is transitive, so every dominated
    // point has a dominator IN the global skyline, and every global
    // skyline point survives its own cell's local pass. Phase 1 runs the
    // same running-min window WITHIN each of 32 hash cells (fully
    // parallel — the heavy sort is per-cell); phase 2 re-runs it on the
    // union of local survivors, which is at most the sum of per-cell
    // skyline sizes (output-sized, not input-sized) — THAT tiny set is
    // the only single-partition work. Bit-identical to q_skyline
    // (equal-(revenue,delay) ties all survive both phases), same oracle.
    "q_skyline_grid" -> { (s, dir) =>
      val m = skylineMeasures(s, dir)
        .withColumn("cell", pmod(xxhash64(col("suppkey")), lit(32L)))
      val wHiC = Window.partitionBy(col("cell"))
        .orderBy(col("revenue_cents").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wEqC = Window.partitionBy(col("cell"), col("revenue_cents"))
      val local = m
        .withColumn("min_hi", min(col("delay_micro")).over(wHiC))
        .withColumn("min_eq", min(col("delay_micro")).over(wEqC))
        .filter((col("min_hi").isNull || col("min_hi") > col("delay_micro"))
          && col("min_eq") === col("delay_micro"))
        .select(col("suppkey"), col("revenue_cents"), col("delay_micro"))
      val wHi = Window.orderBy(col("revenue_cents").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wEq = Window.partitionBy(col("revenue_cents"))
      local
        .withColumn("min_hi", min(col("delay_micro")).over(wHi))
        .withColumn("min_eq", min(col("delay_micro")).over(wEq))
        .filter((col("min_hi").isNull || col("min_hi") > col("delay_micro"))
          && col("min_eq") === col("delay_micro"))
        .join(broadcast(t(s, dir, "supplier")),
          col("s_suppkey") === col("suppkey"))
        .select(col("s_name").as("supplier"), col("revenue_cents"),
          col("delay_micro"))
        .orderBy(col("revenue_cents").desc, col("delay_micro"),
          col("supplier"))
    },

    // TRIANGLE COUNTING by degree-ordered orientation (the MapReduce-
    // classic wedge algorithm): nodes = parts, edges = parts sharing an
    // order. Orienting every edge from its lower-(degree, id) endpoint
    // caps oriented out-degree at O(√m), so the wedge self-join —
    // the only quadratic-risk stage — generates Σ d_out(u)² = O(m^1.5)
    // candidates instead of the hub-explosion Σ d(u)² a naive
    // neighbor join pays (a part in 10k orders would otherwise emit
    // 10k² wedges). Plan (round-11 rebuild, measured stage by stage at
    // sf0.1 — the r10 12.5 s came from three places, each fixed below):
    // per-order pair GENERATION instead of an op⋈op self-join (one
    // map-combinable collect_set shuffle on the order key + a map-side
    // generator — the self-join paid two extra exchanges of the same
    // rows; 2.9 → 1.7 s), broadcast degree joins, a localCheckpoint of
    // the oriented edge list for its four consumers, a Bloom prefilter
    // on the closing pair (below), and ONE closing join with the three
    // triangle corners exploded map-side (the union-of-three form ran
    // the closing join three times). Each triangle is found exactly
    // once; no inequality join reaches the planner.
    "q_triangle_count" -> { (s, dir) =>
      // collect_set is bounded by the max order width (17 parts at
      // sf0.1, catalog-bounded at any SF — an "order" is a bounded
      // container, the same bound the wedge algorithm's input needs),
      // so the per-group state is tiny and partials combine map-side.
      // sort_array makes the generated pairs (a < b) without a filter.
      // e is materialized BEFORE its three consumers (both deg branches +
      // the orientation join base): exchange reuse does not unify the
      // deg-broadcast jobs with the main job, so without the cut the
      // whole lineitem agg → pair explode → distinct chain re-ran inside
      // each broadcast build (r16 measure; e is edge-sized, ~400k rows)
      val e = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
        .select(col("a"), explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")) - col("i") - lit(1))).as("b"))
        .distinct()
        .localCheckpoint(eager = true)
      // DRIVER-LOCAL CUTOVER (LocalCutover): the degree agg, both
      // orientation broadcasts, the en checkpoint, the ~41M-row wedge
      // self-join and the closing semi join collapse to one
      // primitive-array merge-intersection sweep (GraphLocal.
      // triangleCounts — exact combinatorics, the per-node count has
      // one value). The distributed plan keeps its own
      // broadcast-vs-Bloom closing cutover.
      LocalCutover.pairs(e) match {
      case Some(arr) =>
        s.createDataFrame(GraphLocal.triangleCounts(arr))
          .toDF("p_partkey", "n_triangles")
          .orderBy(col("n_triangles").desc, col("p_partkey"))
      case None =>
      val deg = e.select(col("a").as("n"))
        .union(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val aFirst = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      // The oriented edge list feeds FOUR consumers (both wedge sides,
      // the closing join, the Bloom build); localCheckpoint materializes
      // the O(m) frame ONCE and severs the pair-build → degree lineage
      // (the ConnectedComponents pattern; reliable checkpoints at
      // cluster scale via the same conf). deg is node-domain-sized →
      // broadcast, so orientation is map-side on the edge partitioning.
      val en = e
        .join(broadcast(deg.select(col("n").as("a"), col("d").as("da"))),
          "a")
        .join(broadcast(deg.select(col("n").as("b"), col("d").as("db"))),
          "b")
        .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
          when(aFirst, col("b")).otherwise(col("a")).as("v"),
          when(aFirst, col("db")).otherwise(col("da")).as("dv"))
        .localCheckpoint(eager = true)
      // Wedge generation stays the en⋈en self-join: the generator
      // alternative (sorted neighbor lists + posexplode/slice, the
      // basket pair-gen shape) was MEASURED SLOWER here (r16) — wedge
      // neighbor lists are O(√m)-sized, so the per-row slice() copies
      // O(d²) struct arrays per center, where the self-join emits the
      // same ~41M rows from one reused exchange with no allocation.
      val wedges0 = en.select(col("u"), col("v").as("v1"),
          col("dv").as("dv1"))
        .join(en.select(col("u"), col("v").as("v2"), col("dv").as("dv2")),
          "u")
        .filter(col("dv1") < col("dv2") ||
          (col("dv1") === col("dv2") && col("v1") < col("v2")))
        .select(col("u"), col("v1"), col("v2"))
      // Closing is SIZE-ADAPTIVE (r16, guide §3.1 — broadcast the side
      // that fits; the bound is LocalCutover's): when the oriented edge
      // list fits a broadcast hash relation, the closing test runs
      // MAP-SIDE in the SAME stage as wedge generation — no wedge
      // exchange at all, and the Bloom prefilter (whose only job was
      // cutting that exchange) disappears along with its
      // build-and-collect job. Past the bound, the round-11 plan stands
      // unchanged: Bloom prefilter (∝ m, fine through ~1e9 edges) + the
      // exact shuffle closing join. en is checkpointed, so its count
      // reads materialized blocks.
      val tris = (if (LocalCutover.broadcastEdges(en.count())) {
        wedges0.join(broadcast(en.select(col("u").as("v1"),
            col("v").as("v2"))),
          Seq("v1", "v2"), "left_semi")
      } else {
        import org.apache.spark.sql.Column
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        import org.apache.spark.sql.graftbridge.ColumnBridge
        import org.apache.spark.sql.types.BinaryType
        val pairHash = (x: Column, y: Column) =>
          ColumnBridge.expression(xxhash64(x, y))
        val bloomBytes = en.select(ColumnBridge.column(
            new BloomFilterAggregate(pairHash(col("u"), col("v")), 1L << 22)
              .toAggregateExpression()).as("bf"))
          .head().getAs[Array[Byte]](0)
        val closes = ColumnBridge.column(new BloomFilterMightContain(
          Literal(bloomBytes, BinaryType), pairHash(col("v1"), col("v2"))))
        wedges0.filter(closes)
          .join(en.select(col("u").as("v1"), col("v").as("v2")),
            Seq("v1", "v2"), "left_semi")
      }).select(col("u").as("x"), col("v1").as("y"), col("v2").as("z"))
      // one closing join, three corners exploded map-side — the
      // union-of-three-selects form re-ran the join per branch (only the
      // exchanges below it were reusable)
      tris.select(explode(array(col("x"), col("y"), col("z"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("n_triangles"))
        .select(col("n").as("p_partkey"), col("n_triangles"))
        .orderBy(col("n_triangles").desc, col("p_partkey"))
      }
    },

    // K-CORE DECOMPOSITION (k=80) of the part co-order graph — the
    // "dense backbone" extraction that completes the graph family
    // (ConnectedComponents = reachability, PageRank = centrality,
    // triangles = local density, k-core = global density): iteratively
    // peel nodes of degree < k until the survivors all have ≥ k
    // neighbors among THEMSELVES (Seidman 1983). k=80 sits in the
    // graph's critical band (min degree ~40, median ~115, and the core
    // COLLAPSES entirely past k≈85 — all-or-nothing, the known
    // random-graph phase transition), so peeling genuinely cascades:
    // 6 rounds to fixpoint at sf0.01 AND sf0.1. Scale shape: the
    // driver loop is data-ADAPTIVE (iterate until an edge-count
    // fixpoint), each round one degree hash agg + two BROADCAST anti
    // joins (the peel set is node-domain-sized — the part catalog
    // bounds it at any data scale — so the edge list never shuffles
    // inside a round), lineage severed per round by localCheckpoint
    // (the ConnectedComponents discipline — reliable checkpoints at
    // cluster scale); rounds are bounded by the peeling depth, not
    // graph size.
    // Driver-job budget (the r11 punch item — this loop was the
    // heaviest query at 7.2 s from ~19 fixed-cost job round-trips, the
    // same overhead shape the r10 BPE fix removed): TWO jobs per round
    // — the eager checkpoint of the peeled edge set (the only
    // data-sized work) and a count over its already-materialized cache
    // blocks (ms). The peel-set checkpoint and the separate isEmpty
    // probe are gone: the anti joins read the degree agg directly
    // (edges below them is checkpointed, so lineage stays one round
    // deep), and "no node below k" is detected as an edge-count
    // fixpoint — a below-k node always owns ≥1 edge, so bad ≠ ∅ ⟺ the
    // peel removes edges. The DuckDB oracle unrolls 8 rounds —
    // ≥ fixpoint depth, and extra rounds past the fixpoint are
    // identity, so adaptive and unrolled agree exactly.
    "q_kcore" -> { (s, dir) =>
      val k = 80
      val e0 = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
        .select(col("a"), explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")) - col("i") - lit(1))).as("b"))
        .distinct()
      var edges = e0.localCheckpoint(eager = true)
      // DRIVER-LOCAL CUTOVER (LocalCutover): the ~6 peel rounds (2
      // driver round-trips + a micro-stage each) become one
      // GraphLocal.kcorePeel, which mirrors the degree/peel/fixpoint
      // logic exactly.
      LocalCutover.pairs(edges) match {
      case Some(arr) =>
        s.createDataFrame(GraphLocal.kcorePeel(arr, k))
          .toDF("p_partkey", "core_deg")
          .orderBy(col("p_partkey"))
      case None =>
        var m = edges.count()
        var done = false
        while (!done) {
          val deg = edges.select(col("a").as("n"))
            .unionAll(edges.select(col("b").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("d"))
          // bad is node-domain-sized (the part catalog bounds it at ANY
          // data scale) — broadcast makes both anti joins MAP-SIDE, so a
          // peel round never shuffles the edge list at all: one degree
          // agg exchange per round is the whole shuffle budget
          val bad = deg.filter(col("d") < k).select(col("n"))
          // LAZY checkpoint + count: the count action materializes the
          // checkpoint blocks and reads the fixpoint probe in the SAME
          // job — one driver round-trip per peel round total
          val next = edges
            .join(broadcast(bad.withColumnRenamed("n", "a")),
              Seq("a"), "left_anti")
            .join(broadcast(bad.withColumnRenamed("n", "b")),
              Seq("b"), "left_anti")
            .localCheckpoint(eager = false)
          val m2 = next.count()
          if (m2 == m) done = true
          else { edges = next; m = m2 }
        }
        edges.select(col("a").as("node"))
          .unionAll(edges.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
          .select(col("node").as("p_partkey"), col("core_deg"))
          .orderBy(col("p_partkey"))
      }
    },

    // ITEM-ITEM COLLABORATIVE SIMILARITY (the recommender workhorse —
    // Sarwar et al. WWW'01) over the supplier–part bipartite graph:
    // each supplier is a sparse part-basket vector (quantity-weighted),
    // similarity = cosine over shared parts, top-5 neighbors per
    // supplier. Scale design: AGGREGATE-FIRST — the only fact-sized
    // stage is one (supplier, part) sum. Pair generation is MAP-SIDE
    // from per-part supplier vectors (r11 second pass, measured: the
    // m⋈m self-join materialized 17M join rows and aggregated all of
    // them — 7.6 s; the vector explode emits each unordered pair ONCE,
    // 9M rows, no join hash build, and mirrors the aggregated
    // catalog-sized result instead — full query 10.0 → 4.2 s). The
    // per-part vector is bounded by suppliers-per-part (catalog-sized
    // here; a mega-popular item at web scale gets the q_source_cap-
    // style df cap). Dot/norm reductions are exact int64 over integer
    // cents — bit-identical cross-engine, no fp summation-order hazard;
    // bound: q ≤ ~2e6 cents per (sk,pk) even at 100× data, so each
    // product ≤ 4e12 and a 20k-part overlap sums to ≤ 8e16 ≪ 2⁶³
    // (the DECIMAL(38) first cut cost 2.8 s of the pair stage for
    // headroom nothing here needs).
    "q_supplier_similarity" -> { (s, dir) =>
      // m is materialized before its two agg consumers (norms + byPart —
      // each re-ran the fact-sized (sk, pk) aggregate without the cut);
      // it is catalog-pair-sized (591k rows at sf0.1, bounded by
      // |suppliers|×|parts| at any scale)
      val m = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("q"))
        .localCheckpoint(eager = true)
      val norms = m.groupBy(col("sk"))
        .agg(sum(col("q") * col("q")).as("n2"))
      val byPart = m.groupBy(col("pk"))
        .agg(sort_array(collect_list(struct(col("sk"), col("q"))))
          .as("ss"))
      val half = byPart
        .select(col("ss"), posexplode(col("ss")).as(Seq("i", "sa_s")))
        .select(col("sa_s.sk").as("sa"), col("sa_s.q").as("qa"),
          explode(slice(col("ss"), col("i") + lit(2),
            size(col("ss")) - col("i") - lit(1))).as("sb_s"))
        .groupBy(col("sa"), col("sb_s.sk").as("sb"))
        .agg(sum(col("qa") * col("sb_s.q")).as("dot"))
        // half feeds both union branches (dot is symmetric — the swap
        // re-emits it mirrored): materialize once or the per-part vector
        // explode + pair aggregate runs per branch (r16 measure); the
        // frame is supplier-pair-sized, catalog²-bounded at any scale
        .localCheckpoint(eager = true)
      val pairs = half.unionAll(half.select(
        col("sb").as("sa"), col("sa").as("sb"), col("dot")))
      val w = Window.partitionBy(col("sa"))
        .orderBy(col("cos_micro").desc, col("sb"))
      pairs
        .join(broadcast(norms.select(col("sk").as("sa"),
          col("n2").as("na2"))), Seq("sa"))
        .join(broadcast(norms.select(col("sk").as("sb"),
          col("n2").as("nb2"))), Seq("sb"))
        .withColumn("cos_micro", micro(col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nb2").cast("double")))))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("sa").as("suppkey"), col("rnk"),
          col("sb").as("similar_supp"), col("cos_micro"))
        .orderBy(col("suppkey"), col("rnk"))
    },

    // LINK PREDICTION — Resource Allocation index (Zhou/Lü/Zhang 2009,
    // the strongest of the local similarity indices in their benchmark
    // and EXACTLY integer here, unlike Adamic-Adar's 1/ln d whose libm
    // last-ulp could differ across engines): for non-adjacent part
    // pairs (u,w) in the co-order graph, score = Σ_z 1/deg(z) over
    // common neighbors z, each contribution half-up micro-quantized as
    // pure int64 division — no fp anywhere. Wedge enumeration is
    // NEIGHBORHOOD-TRUNCATED: each center z enumerates pairs only among
    // its top-20 STRONGEST ties (co-order count, part-id tiebreak), the
    // standard production cap for Σd² wedge blowup (the DIMSUM/WTF
    // move) — this bounds wedges at C(20,2) per node, linear in node
    // count at any scale, while deg(z) in the score stays the TRUE
    // degree. Scale shape: basket pair-gen is order-bounded (the
    // q_triangle_count argument), the truncation window and the wedge
    // self-join share the z partitioning, the degree table broadcasts,
    // and the existing-edge anti-join is an equi-join on (u,w).
    "q_link_predict" -> { (s, dir) =>
      val ep = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
        .select(col("a"), explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")) - col("i") - lit(1))).as("b"))
      // distinct edges with tie strength = number of co-orders
      val e = ep.groupBy(col("a"), col("b")).agg(count(lit(1)).as("st"))
        .localCheckpoint(eager = true)
      val und = e.select(col("a").as("z"), col("b").as("x"), col("st"))
        .unionAll(e.select(col("b").as("z"), col("a").as("x"), col("st")))
      val deg = und.groupBy(col("z")).agg(count(lit(1)).as("d"))
      val wTop = Window.partitionBy(col("z"))
        .orderBy(col("st").desc, col("x"))
      // zn is ≤ 20·|nodes| rows by the truncation — severing it keeps
      // the wedge self-join's BOTH sides off the window+degree lineage
      // (exchange reuse does not always unify the two aliased sides)
      val zn = und.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 20)
        .join(broadcast(deg), Seq("z"))
        // half-up micro of 1/d in pure int64: floor((2e6 + d) / 2d)
        .withColumn("c", intDiv(lit(2000000L) + col("d"), col("d") * 2))
        .select(col("z"), col("x"), col("c"))
        .localCheckpoint(eager = true)
      val pairs = zn.select(col("z"), col("x").as("u"), col("c"))
        .join(zn.select(col("z"), col("x").as("w")), Seq("z"))
        .filter(col("u") < col("w"))
        .groupBy(col("u"), col("w"))
        .agg(sum(col("c")).as("ra_micro"), count(lit(1)).as("n_common"))
      // The existing-edge side of the anti join is EDGE-sized (it grows
      // with the corpus — ~400k rows at sf0.1 — not node-pair-domain
      // sized), so the broadcast is SIZE-ADAPTIVE like q_triangle_count's
      // closing join (LocalCutover's bound): below it, broadcasting
      // keeps the wedge-pair table (the big side) from shuffling on
      // (u, w) just for a membership test; past it, the anti join runs
      // as a plain shuffled join — AQE's own size check resumes instead
      // of being pinned by an unconditional hint. e is checkpointed, so
      // the count reads materialized blocks.
      val eUW = e.select(col("a").as("u"), col("b").as("w"))
      pairs
        .join(if (LocalCutover.broadcastEdges(e.count())) broadcast(eUW)
          else eUW,
          Seq("u", "w"), "left_anti")
        .orderBy(col("ra_micro").desc, col("u"), col("w"))
        .limit(50)
        .select(col("u").as("part_a"), col("w").as("part_b"),
          col("n_common"), col("ra_micro"))
        .orderBy(col("ra_micro").desc, col("part_a"), col("part_b"))
    },

    // ASSOCIATION RULES — support / confidence / lift for co-ordered
    // part pairs (the market-basket classic, Agrawal & Srikant 1994;
    // what the recommender family's cosine doesn't say: is the pair
    // co-occurrence MORE than chance). ALL-INTEGER: supports are exact
    // counts, confidence = half-up micro ratio of two int64 counts,
    // lift = (s_ab·N)/(s_a·s_b) as one half-up micro integer division —
    // bounds: 2·s_ab·N·1e6 ≤ ~3e17 at the 30× replica, inside int64.
    // Scale shape: one distinct (order, part) projection, one
    // order-bounded basket pair-gen (the q_triangle_count argument),
    // item supports broadcast back (catalog-sized), support floor ≥ 2
    // (the q_label_prop backbone cut — singleton co-occurrence is not
    // evidence of association) prunes the pair tail before the top-50
    // rank.
    "q_basket_rules" -> { (s, dir) =>
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      // ONE driver-sized scalar (the Bloom-build collect policy): the
      // order count folds into the lift arithmetic as a literal — a
      // 1-row crossJoin would plan as BroadcastNestedLoopJoin and trip
      // the no-cartesian plan gate for a join that carries one number
      val nOrders = op.select(col("o")).distinct().count()
      val sa = op.groupBy(col("p")).agg(count(lit(1)).as("s"))
      val pairs = op
        .groupBy(col("o"))
        .agg(sort_array(collect_set(col("p"))).as("ps"))
        .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
        .select(col("a"), explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")) - col("i") - lit(1))).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("s_ab"))
        .filter(col("s_ab") >= 2)
      pairs
        .join(broadcast(sa.select(col("p").as("a"), col("s").as("s_a"))),
          Seq("a"))
        .join(broadcast(sa.select(col("p").as("b"), col("s").as("s_b"))),
          Seq("b"))
        .select(col("a").as("part_a"), col("b").as("part_b"),
          col("s_ab"), col("s_a"), col("s_b"),
          // confidence a→b = s_ab/s_a, half-up micro in pure int64
          confMicro(col("s_ab"), col("s_a")).as("conf_micro"),
          // lift = s_ab·N / (s_a·s_b), half-up micro — int64 while the
          // headroom bound holds, exact DECIMAL past it (liftMicro)
          liftMicro(col("s_ab"), col("s_a"), col("s_b"), nOrders)
            .as("lift_micro"))
        .orderBy(col("lift_micro").desc, col("part_a"), col("part_b"))
        .limit(50)
        .orderBy(col("lift_micro").desc, col("part_a"), col("part_b"))
    },

    // FREQUENT 3-ITEMSETS — the LEVEL-WISE Apriori step past pairs
    // (Agrawal & Srikant 1994's actual contribution: candidates at
    // level k come from frequent sets at level k−1, and every count
    // happens AFTER that cut). Baskets are CUSTOMER-level (every part
    // an account ever ordered) — the order-level baskets q_basket_rules
    // mines are too sparse for level 3 (zero repeated order-triples at
    // sf0.1), while account-level repeat-purchase triples exist at
    // every SF (150,586 at sf0.01 / 16,235 at sf0.1, support ≥ 2).
    // Candidate triples come from the F2×F2 self-join of each basket's
    // FREQUENT pairs sharing the leading item ((a,b)⋈(a,c), b<c, keyed
    // (customer, a) so generation stays inside each basket), then
    // subset-pruned ((b,c) must itself be frequent — the downward-
    // closure cut, an equi semi-join), then counted with the same
    // floor. The floor is DENSITY-RELATIVE: minSup = max(2, ⌊2·mean
    // pair support⌋) — Agrawal & Srikant define min-support relative
    // to the corpus, and the right density proxy here is the mean
    // support of the pair domain: a transaction-count-relative floor
    // kills sparse catalogs (measured: floor 19 at sf0.1 leaves ZERO
    // frequent pairs — supports top out at 5), while a FIXED floor
    // stops pruning the moment the corpus grows over a fixed catalog
    // (every support-1 pair recurs at K× replication and the 94%
    // frequent-pair cut vanishes — the scale trap). Under catalog-
    // fixed K× growth mean support grows K×, the floor tracks it
    // (2 → ~2K), and F2 is IDENTICAL to the base cut — selectivity is
    // preserved by construction. At both oracle SFs the floor
    // evaluates to exactly 2 (mean 1.29 / 1.02), so it changes nothing
    // the gate sees. Scale shape: basket pair-gen is basket-bounded;
    // the infrequent-pair cut runs BEFORE the triple join — measured
    // at sf0.1 it drops 13.1M basket pairs to 836k frequent-pair
    // instances (94%), so the self-join's per-(cust, a) groups are
    // frequent-pair-bounded, not basket-C(n,2)-bounded. All-integer
    // counts — nothing to quantize.
    "q_basket_triples" -> { (s, dir) =>
      // no .distinct() before the basket agg: collect_set dedups within
      // the basket, so the extra (o,p) exchange would be pure cost.
      // What gets severed is the BASKETS frame — customer-count-sized
      // (one array row per account), so the fact join + basket shuffle
      // runs ONCE and both pair-relation consumers re-derive pr as a
      // map-only explode off cache. (Checkpointing pr itself — 131M
      // rows at the 10× replica — OOMed the 32-thread box, measured;
      // and without any cut the join+shuffle ran twice.) The explicit
      // fixed-width repartition before the cut is LOAD-BEARING: AQE
      // coalesces the catalog-sized agg output to a few partitions, and
      // the 131M-row pair explode inherits that parallelism — the
      // measured blockedSuccessorPairs trap, 24 → 38 s at 10× without it
      val baskets = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("o"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("o"))
        .localCheckpoint(eager = true)
      val pr = baskets
        .select(col("o"), col("ps"),
          posexplode(col("ps")).as(Seq("i", "a")))
        .select(col("o"), col("a"),
          explode(slice(col("ps"), col("i") + lit(2),
            size(col("ps")) - col("i") - lit(1))).as("b"))
      // pair supports: feeds the floor scalar and F2. LAZY checkpoint +
      // count (the q_kcore fusion): one job materializes the pair table
      // AND reads the distinct-pair scalar; the instance total needs no
      // pass over pr at all — it is Σ C(|basket|,2) off the cached
      // basket frame (collect_set already dedups, so the identity is
      // exact). Two driver-sized scalars total (the q_basket_rules
      // nOrders collect policy): the floor folds into F2 as a literal.
      val f0 = pr.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("s"))
        .localCheckpoint(eager = false)
      val nPairs = f0.count()
      val nInst = baskets.agg(sum(intDiv(
        size(col("ps")).cast("long") * (size(col("ps")) - 1).cast("long"),
        lit(2L))).cast("long")).head().getLong(0)
      // OPERABLE floor knob (the production escape hatch): a run that
      // wants a higher cut sets -Dgraft.triples.floorMult=N (or env
      // SPARK_GRAFT_TRIPLES_FLOOR_MULT). Default 2 — output unchanged;
      // the replication-invariance property holds at ANY multiplier
      // (the floor stays density-relative) and is spec-pinned at a
      // second value (AprioriFloorSpec "floor multiplier knob").
      val floorMult = sys.props.get("graft.triples.floorMult")
        .orElse(sys.env.get("SPARK_GRAFT_TRIPLES_FLOOR_MULT"))
        .map(_.toLong).getOrElse(2L)
      val minSup = math.max(2L, floorMult * nInst / nPairs)
      // F2 is catalog-pair-sized (413k pairs at sf0.1, IDENTICAL at any
      // K by the floor construction) — broadcast BOTH closure semi
      // joins so the fact-sized pair relation never shuffles on (a,b)
      // for membership tests
      val f2 = f0.filter(col("s") >= minSup).select(col("a"), col("b"))
      // a basket's pairs that are frequent corpus-wide, then candidate
      // triples GENERATED map-side from each (basket, leading item)'s
      // sorted frequent-successor set — the same generator shape as the
      // basket pair-gen itself (r16: the former fpr⋈fpr self-join paid an
      // eager checkpoint of fpr plus two exchanges and a join hash build
      // to produce exactly these (b, c) combinations; one (o, a) hash agg
      // + posexplode emits each ordered pair once with no join at all)
      val fpr = pr.join(broadcast(f2), Seq("a", "b"), "left_semi")
      fpr.groupBy(col("o"), col("a"))
        .agg(sort_array(collect_set(col("b"))).as("bs"))
        .select(col("a"), col("bs"), posexplode(col("bs")).as(Seq("i", "b")))
        .select(col("a"), col("b"), explode(slice(col("bs"), col("i") + lit(2),
          size(col("bs")) - col("i") - lit(1))).as("c"))
        // downward closure: the third face (b,c) must be frequent too
        .join(broadcast(f2.select(col("a").as("b"), col("b").as("c"))),
          Seq("b", "c"), "left_semi")
        .groupBy(col("a"), col("b"), col("c"))
        .agg(count(lit(1)).as("s_abc"))
        .filter(col("s_abc") >= minSup)
        .select(col("a").as("part_a"), col("b").as("part_b"),
          col("c").as("part_c"), col("s_abc"))
        .orderBy(col("s_abc").desc, col("part_a"), col("part_b"),
          col("part_c"))
        .limit(50)
        .orderBy(col("s_abc").desc, col("part_a"), col("part_b"),
          col("part_c"))
    },

    // COMMUNITY DETECTION — synchronous label propagation (Raghavan et
    // al. 2007), the sixth graph-family member (CC = reachability,
    // PageRank = centrality, triangles = local density, k-core = global
    // density, link prediction = missing edges; LPA = mesoscale
    // structure). Each node adopts the MODE of its neighbors' labels,
    // ties broken by smallest label — fully deterministic, so FOUR fixed
    // synchronous rounds are a well-defined result both engines compute
    // exactly (asynchronous/randomized LPA trades determinism for faster
    // convergence; the synchronous fixed-round form is the one an oracle
    // can unroll — the q_kcore adaptive-vs-unrolled argument doesn't
    // apply because LPA has no monotone fixpoint to hide behind).
    // Scale shape: per round ONE join of the label table to the
    // neighbor relation on the node key + one (node, label) hash agg +
    // one per-node top-1 window sharing the node partitioning; label
    // tables are node-domain-sized, lineage severed per round by
    // localCheckpoint (the ConnectedComponents discipline); rounds are
    // FIXED (4), not data-dependent.
    "q_label_prop" -> { (s, dir) =>
      val (_, lab) = lpa(s, dir)
      lab.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"), min(col("n")).as("min_node"))
        .orderBy(col("n_members").desc, col("community"))
    },

    // MODULARITY (Newman & Girvan 2004) of the LPA communities — the
    // second graph QUALITY metric (with q_graph_assortativity): did
    // label propagation find real structure? Q = Σ_c [L_c/m −
    // (d_c/2m)²], reported ALL-INTEGER: Q·4m² = Σ_c (2m·intra_c −
    // d_c²) where intra_c counts DIRECTED intra-community edges
    // (= 2·L_c), every term an exact int64 (2m·intra ≤ 4m², fine to
    // m ≈ 2.1e6 backbone edges — documented, and the measured replica
    // band keeps the graph constant in K); the micro readout shifts by
    // +1 BEFORE the division — ((Qs + 4m²)·250000) div m² − 1e6 — so
    // the numerator is non-negative and Spark's truncating IntegralDivide
    // equals DuckDB's flooring // exactly (Q itself can be negative;
    // the q_pack_chop intDiv-vs-floor hazard, designed out instead of
    // documented around). LPA labels come from the ONE shared lpa()
    // definition (q_label_prop and this query cannot drift); scale
    // shape: the label joins BROADCAST the node-domain-sized lab table
    // (map-side), the metric is two hash aggs to one row; m is a
    // 1-scalar driver read off the checkpointed edge frame.
    "q_graph_modularity" -> { (s, dir) =>
      val (und, lab) = lpa(s, dir)
      val m = und.count() / 2
      val cc = und
        .join(broadcast(lab.select(col("n").as("u"),
          col("lbl").as("lu"))), Seq("u"))
        .join(broadcast(lab.select(col("n").as("v"),
          col("lbl").as("lv"))), Seq("v"))
        .groupBy(col("lu").as("c"))
        .agg(count(lit(1)).as("dc"),
          sum(when(col("lu") === col("lv"), 1L).otherwise(0L))
            .as("intra"))
      cc.agg(count(lit(1)).as("n_communities"),
          sum(lit(2L * m) * col("intra") - col("dc") * col("dc"))
            .as("qs"))
        .select(col("n_communities"), lit(m).as("n_edges"),
          (intDiv((col("qs") + lit(4L * m * m)) * lit(250000L),
            lit(m * m)) - lit(1000000L)).as("q_micro"))
        .orderBy(col("n_edges"))
    },

    // MULTI-SOURCE WEIGHTED SHORTEST PATHS (Bellman-Ford min-plus rounds,
    // Bellman 1958) over the support-2 co-order backbone — the
    // distance-to-hub primitive the graph family was missing (CC =
    // reachability, PageRank = centrality, k-core = density; this is
    // PROXIMITY: "how far is every part from the heavily-co-ordered
    // hub set", the warehouse/CDN-distance shape). Sources are the
    // TOP-128 nodes by backbone degree (row_number over (d DESC, n) —
    // deterministic, node-domain-sized window). A 2×-mean-degree rule
    // shipped first and the 10× replica measurement caught its density
    // trap the same day: K× replication densifies the support-2
    // backbone toward the full co-order graph (mean degree 1.2 → 120)
    // until NO node clears twice the mean — the top-K rule is
    // well-defined at every density and keeps the hub count a layout
    // constant. Edge weight = 1000 div st + 1 (strong co-order ties
    // are cheap), so dist is exact int64 everywhere, bounded by
    // rounds·501.
    // Scale shape (the q_kcore loop recipe): edges are checkpointed
    // ONCE; the dist table is node-domain-sized (the part catalog
    // bounds it at any corpus size) so each relax round BROADCASTS it
    // into a map-side join with the edge list — a round's only shuffle
    // is the node-keyed min agg — and the fixpoint probe ((count,
    // sum(dist)) unchanged; min-plus improvements strictly decrease the
    // sum or grow the count, so the pair is a faithful fixpoint
    // witness) rides the SAME action that materializes the lazy
    // per-round checkpoint: ONE driver job per round. Adaptive depth is
    // the true fixpoint (6 rounds at sf0.01, 7 at sf0.1); the DuckDB
    // oracle unrolls 10 rounds and asserts its own bound with a
    // (-1,-1) sentinel row when d10 ≠ d9 (the q_kcore guard), so a
    // deeper future fixture fails loudly instead of silently blaming
    // the deeper adaptive answer (measured fixpoints: 6 at sf0.01, 7
    // at sf0.1, 3 at the denser 10× replica).
    "q_shortest_path" -> { (s, dir) =>
      val eb = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
        .select(col("a"), explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")) - col("i") - lit(1))).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("st"))
        .filter(col("st") >= 2)
        .withColumn("w", intDiv(lit(1000L), col("st")) + lit(1L))
      val edges = eb.select(col("a").as("u"), col("b").as("v"), col("w"))
        .unionAll(eb.select(col("b").as("u"), col("a").as("v"), col("w")))
        .localCheckpoint(eager = true)
      // DRIVER-LOCAL CUTOVER (LocalCutover): the ~7 Bellman-Ford rounds
      // are one fixed-cost job each over a 7.1k-row backbone (sf0.1);
      // GraphLocal.hubDistances mirrors the hub cut, relax, and fixpoint
      // witness exactly.
      LocalCutover.edges(edges)(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2))) match {
      case Some(arr) =>
        s.createDataFrame(GraphLocal.hubDistances(arr))
          .toDF("p_partkey", "dist")
          .orderBy(col("p_partkey"))
      case None =>
        val deg = edges.groupBy(col("u").as("n"))
          .agg(count(lit(1)).as("d"))
        var dist = hubSelect(deg).localCheckpoint(eager = true)
        var probe = (-1L, -1L)
        var done = false
        while (!done) {
          val relaxed = relaxStep(edges, dist)
          val next = dist.unionAll(relaxed)
            .groupBy(col("n")).agg(min(col("dist")).as("dist"))
            .localCheckpoint(eager = false)
          // coalesce: an empty backbone must converge to (0, 0), not NPE
          val r = next
            .agg(count(lit(1)), coalesce(sum(col("dist")), lit(0L)))
            .first()
          val p2 = (r.getLong(0), r.getLong(1))
          if (p2 == probe) done = true
          else { dist = next; probe = p2 }
        }
        dist.select(col("n").as("p_partkey"), col("dist"))
          .orderBy(col("p_partkey"))
      }
    },

    // DEGREE ASSORTATIVITY (Newman 2002) of the support-2 co-order
    // backbone — the first of the two graph QUALITY metrics (with
    // q_graph_modularity) that turn the graph family's outputs into
    // judged numbers: do high-degree parts co-order with other
    // high-degree parts (r > 0, social-network-like) or with leaves
    // (r < 0, technological/dependency-like)? r = Pearson over the
    // DIRECTED edge list of (deg(u), deg(v)) — the standard
    // formulation; both directions of every edge make it symmetric.
    // ALL-INTEGER six sums (the q_cross_corr recipe: degrees are
    // bounded by the part catalog, so n·sxx ≤ 4m²·max_d² ≈ 3e17 at the
    // measured replica band — documented), fp only in the one-row
    // final formula, micro-quantized. Scale shape: edge build + one
    // degree agg; both endpoint-degree joins BROADCAST the
    // node-domain-sized deg table (map-side), the six sums partial-agg
    // to one row.
    "q_graph_assortativity" -> { (s, dir) =>
      val e = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
        .select(col("a"), explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")) - col("i") - lit(1))).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("st"))
        .filter(col("st") >= 2)
      // checkpoint: ed feeds THREE consumers (deg + both endpoint
      // joins) and exchange reuse does not unify aliased subtrees —
      // without this the whole backbone build runs per consumer
      val ed = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint(eager = true)
      val deg = ed.groupBy(col("u").as("n")).agg(count(lit(1)).as("d"))
      ed.join(broadcast(deg.select(col("n").as("u"), col("d").as("x"))),
          Seq("u"))
        .join(broadcast(deg.select(col("n").as("v"), col("d").as("y"))),
          Seq("v"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(intDiv(col("n"), lit(2L)).as("n_edges"),
          micro((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double"))).as("assort_micro"))
        .orderBy(col("n_edges"))
    },

    // INCREMENTAL VIEW MAINTENANCE — the q07 nation-revenue rollup
    // refreshed from a persisted partial-aggregate store plus ONE delta
    // scan, instead of a full recompute (operators/IncrementalRollup:
    // the SignatureStore discipline applied to aggregates — the dedup
    // store stops per-batch re-shingling, this stops per-refresh
    // re-scanning). The oracle is the FULL recompute (q07's own SQL) —
    // the q_zorder_box equivalence posture: maintenance changes what is
    // SCANNED, never the answer. Distributive partials (DECIMAL(28,2)
    // sums + counts) merge by addition, so store ⊎ delta ≡ recompute
    // exactly; at 100 TB the base/delta split is ingestion-time
    // partition pruning (the modulo slice stands in for the high-water
    // mark) and the refresh cost is the delta scan + a catalog-sized
    // merge.
    "q_ivm_rollup" -> { (s, dir) =>
      graft.operators.IncrementalRollup.nationRevenue(s, dir)
    },

    // SECOND maintained view through the generalized registry (round-13
    // punch item #1): the events fact's per-(event_type, hour) traffic
    // rollup — all-integer cents partials (sum/count merge by addition,
    // min/max by min/max — the non-additive merge path exercised), same
    // store-⊎-delta ≡ recompute oracle posture. One registry entry IS
    // the whole implementation (operators/IncrementalRollup.views).
    "q_ivm_events" -> { (s, dir) =>
      graft.operators.IncrementalRollup.refresh(s, dir, "hourly_activity")
    },

    // PERSONALIZED PAGERANK (random walk with restart, Page et al.
    // 1999 §6 / Haveliwala 2002) over the support-2 co-order backbone
    // — the RECOMMENDATION primitive the graph family was missing:
    // global PageRank says "important anywhere", PPR says "important
    // NEAR THIS SOURCE" (people-who-ordered-X proximity). Per source
    // s: p₀ = 1e6 at s; each of 4 fixed synchronous rounds spreads
    // (85·(p div deg)) div 100 along every edge and adds the 150 000
    // restart at s — ALL-INTEGER micro mass, deterministic on both
    // engines (the integer share division leaks remainder mass like
    // q_pagerank's documented dangling leak — a ranking, not a
    // distribution). Sources = top-8 backbone hubs via the same
    // distributed TakeOrdered as q_shortest_path's hub cut. Scale
    // shape: the q_shortest_path loop recipe — edges (+ out-degree)
    // checkpointed ONCE, the (source × node)-domain mass table
    // BROADCASTS into the map-side spread join (same catalog-size
    // cutover note as the relax join), each round's only shuffle is
    // the (src, node) sum agg; fixed 4 rounds so the oracle unrolls
    // exactly (the lpa() fixed-round argument — no adaptive fixpoint
    // for the oracle to chase). Zero-mass rows are dropped each round
    // (adding zero is a no-op on both engines, so the prune is
    // semantics-free state bounding).
    "q_ppr" -> { (s, dir) =>
      val eb = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("o"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
        .select(col("a"), explode(slice(col("ps"), col("i") + lit(2),
          size(col("ps")) - col("i") - lit(1))).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("st"))
        .filter(col("st") >= 2)
      val edges = eb.select(col("a").as("u"), col("b").as("v"))
        .unionAll(eb.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint(eager = true)
      // DRIVER-LOCAL CUTOVER (LocalCutover): the spread rounds plus the
      // ewd/srcs/p checkpoint builds are ~8 fixed-cost driver jobs over a
      // 7.1k-row backbone (sf0.1); GraphLocal.ppr mirrors the source cut,
      // integer spread division and zero-mass prune exactly.
      LocalCutover.pairs(edges) match {
      case Some(arr) =>
        s.createDataFrame(GraphLocal.ppr(arr))
          .toDF("src", "p_partkey", "mass_micro")
          .orderBy(col("src"), col("p_partkey"))
      case None =>
        val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
        // edges carry the tail's out-degree so the per-round spread join
        // needs no second lookup; built once, severed before the loop
        val ewd = edges.join(broadcast(deg), Seq("u"))
          .localCheckpoint(eager = true)
        val srcs = topByDegree(deg, "u", GraphLocal.PprSources)
          .select(col("u").as("s")).localCheckpoint(eager = true)
        val restart = srcs.select(col("s").as("src"), col("s").as("n"),
          lit(GraphLocal.PprRestartMass).as("m"))
        var p = srcs.select(col("s").as("src"), col("s").as("n"),
          lit(GraphLocal.PprSeedMass).as("m")).localCheckpoint(eager = true)
        for (_ <- 1 to GraphLocal.PprRounds) {
          val spread = ewd
            .join(broadcast(p.withColumnRenamed("n", "u")), Seq("u"))
            .select(col("src"), col("v").as("n"),
              intDiv(lit(GraphLocal.PprDampNum) * intDiv(col("m"), col("d")),
                lit(GraphLocal.PprDampDen)).as("m"))
          p = spread.unionAll(restart)
            .groupBy(col("src"), col("n")).agg(sum(col("m")).as("m"))
            .filter(col("m") > 0)
            .localCheckpoint(eager = true)
        }
        p.select(col("src"), col("n").as("p_partkey"),
            col("m").as("mass_micro"))
          .orderBy(col("src"), col("p_partkey"))
      }
    }
  )

  /** Shared 4-round synchronous LPA over the support-2 co-order
    * backbone — ONE definition for q_label_prop and
    * q_graph_modularity, so the communities the metric scores are the
    * communities the query reports, by construction. The SUPPORT-2
    * backbone: keep pairs co-ordered at least twice — the
    * market-basket support cut; the raw co-order graph is so dense
    * (median degree ~115) that LPA collapses it to one giant
    * community, which is true but uninformative. Returns (und —
    * directed edge frame, checkpointed; lab — (n, lbl) labels after 4
    * rounds, checkpointed). Per-round shape: one node-keyed join + one
    * (node, label) hash agg + one top-1 window sharing the node
    * partitioning; label tables node-domain-sized; lineage severed per
    * round by localCheckpoint (the ConnectedComponents discipline). */
  /** q_shortest_path's relax round: dist joins the edge relation
    * BROADCAST — correct while the node domain is catalog-sized (part
    * catalog here). CUTOVER: past the broadcast threshold (~node
    * domain × 16 B > 8 GiB, i.e. ~5e8 nodes) drop the hint and let
    * the relax step run as a shuffled join + the min agg it already
    * feeds on the node key — same result, one extra exchange per
    * round (the Bloom drop-policy precedent, q_decontaminate_bloom's
    * 1e9-edge rule). Broadcast shape pinned by PlanShapeSpec. */
  private[graft] def relaxStep(edges: org.apache.spark.sql.DataFrame,
      dist: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    edges.join(broadcast(dist.withColumnRenamed("n", "u")), Seq("u"))
      .select(col("v").as("n"), (col("dist") + col("w")).as("dist"))

  /** The graph twins' top-k source cut on a (`node`, d) degree frame:
    * the top `k` nodes by d, ties broken by the smaller node — the
    * order of GraphLocal's local twin. Pure top-k, so orderBy+limit:
    * plans as a DISTRIBUTED TakeOrderedAndProject (per-partition top-k
    * then a k-row driver merge), identical deterministic output to the
    * rank window it replaced (round 12, "what's wrong" #1) without that
    * window's single-partition sort of the whole node-domain degree
    * table. Plan shape pinned by PlanShapeSpec. */
  private[graft] def topByDegree(deg: DataFrame, node: String, k: Int)
      : DataFrame =
    deg.orderBy(col("d").desc, col(node)).limit(k)

  /** q_shortest_path's hub selection: the top GraphLocal.Hubs nodes at
    * distance 0. */
  private[graft] def hubSelect(deg: DataFrame): DataFrame =
    topByDegree(deg, "n", GraphLocal.Hubs).select(col("n"), lit(0L).as("dist"))

  private def lpa(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("o"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(col("ps"), posexplode(col("ps")).as(Seq("i", "a")))
      .select(col("a"), explode(slice(col("ps"), col("i") + lit(2),
        size(col("ps")) - col("i") - lit(1))).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("st"))
      .filter(col("st") >= 2)
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(eager = true)
    // DRIVER-LOCAL CUTOVER (LocalCutover): the rounds × (join + 2 hash
    // aggs + eager checkpoint) are ~12 fixed-cost driver jobs over a
    // 7.1k-row backbone (sf0.1); GraphLocal.lpa mirrors the vote count
    // and (max count, min label) tie-break exactly. The label frame
    // returned to both consumers is the same (n, lbl) relation either
    // way, so their tails (one agg for q_label_prop, two broadcast
    // joins + two aggs for q_graph_modularity) are untouched.
    LocalCutover.pairs(und) match {
    case Some(arr) =>
      (und, s.createDataFrame(GraphLocal.lpa(arr).toSeq).toDF("n", "lbl"))
    case None =>
      var lab = und.select(col("u").as("n")).distinct()
        .withColumn("lbl", col("n"))
        .localCheckpoint(eager = true)
      for (_ <- 1 to GraphLocal.LpaRounds) {
        // per-node mode with smallest-label tie-break as a SECOND hash
        // agg (max of (count, -label) picks max count then min label) —
        // r16: the former row_number window paid an extra exchange +
        // sort per round where this agg partial-aggregates map-side;
        // labels are positive part keys, so the negation never overflows
        lab = und
          .join(broadcast(lab.withColumnRenamed("n", "v")), Seq("v"))
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("u"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("u").as("n"), (-col("m.nl")).as("lbl"))
          .localCheckpoint(eager = true)
      }
      (und, lab)
    }
  }

  /** Lead-validity interval formulation of the q13 as-of join (shared
    * with RangeJoinRuleSpec, which re-plans it through
    * BinnedRangeJoinRule): each click owns the per-user validity interval
    * [click_ts, next click_ts) — capped for the last click at the user's
    * last purchase ts + 1s so intervals stay bounded (binnable) — and a
    * purchase equi-range-joins the ONE interval containing its ts.
    * Purchases with no prior click re-enter via the left join with a NULL
    * click_ts, matching q13 exactly. Duplicate click timestamps yield one
    * empty interval (filtered) + one real one, so no duplicate matches. */
  def asofIntervalJoin(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val lastP = purchases.groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_pts"))
    val wc = Window.partitionBy(col("user_id"))
      .orderBy(col("click_ts"), col("click_id"))
    val iv = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withColumn("valid_to", lead(col("click_ts"), 1).over(wc))
      .join(lastP, Seq("user_id"))
      .withColumn("vto", coalesce(col("valid_to"),
        col("last_pts") + expr("INTERVAL 1 SECOND")))
      .filter(col("vto") > col("click_ts"))
      .select(col("user_id").as("cu"), col("click_ts"), col("vto"))
    val matched = purchases.join(iv,
        col("user_id") === col("cu") &&
        col("ts") >= col("click_ts") && col("ts") < col("vto"))
      .select(col("event_id"), col("click_ts"))
    purchases.join(matched, Seq("event_id"), "left")
      .select(col("event_id"), ntz(col("ts")).as("ts"),
        ntz(col("click_ts")).as("click_ts"))
      .orderBy(col("event_id"))
  }

  val oracle: Map[String, String] = Map(
    // same deterministic change synthesis, same full-outer MERGE
    // semantics and provenance tagging
    "q_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |sh AS (
        |  SELECT CASE WHEN max(k) < 10000000 THEN 10000000
        |    ELSE CAST(power(10, len(CAST(max(k) AS VARCHAR))) AS BIGINT)
        |    END AS shift
        |  FROM base),
        |changes AS (
        |  SELECT k, 'U' AS op, st AS c_st, cents + 777 AS c_cents
        |  FROM base WHERE k % 10 = 3
        |  UNION ALL
        |  SELECT k, 'D', st, cents FROM base WHERE k % 10 = 7
        |  UNION ALL
        |  SELECT k + (SELECT shift FROM sh), 'I', st, cents + 111
        |  FROM base WHERE k % 10 = 1),
        |m AS (
        |  SELECT coalesce(b.st, c.c_st) AS st,
        |    CASE WHEN c.op IN ('U', 'I') THEN c.c_cents
        |         ELSE b.cents END AS m_cents,
        |    CASE WHEN c.op = 'U' THEN 'updated'
        |         WHEN c.op = 'I' THEN 'inserted'
        |         ELSE 'kept' END AS provenance
        |  FROM base b FULL OUTER JOIN changes c ON c.k = b.k
        |  WHERE coalesce(c.op, '') <> 'D')
        |SELECT st AS o_orderstatus, provenance,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(m_cents) AS BIGINT) AS cents
        |FROM m GROUP BY 1, 2 ORDER BY o_orderstatus, provenance""".stripMargin,

    // same histogram product per join; all numerators non-negative
    "q_join_cardinality" ->
      """WITH
        |oa AS (SELECT o_orderkey AS k, count(*) AS c FROM orders
        |       GROUP BY 1),
        |lb AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem
        |       GROUP BY 1),
        |pa AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem
        |       GROUP BY 1),
        |j1 AS (
        |  SELECT 'orders_lineitem_orderkey' AS join_name,
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_left,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_right,
        |    CAST(count(*) AS BIGINT) AS n_keys_common,
        |    CAST(sum(oa.c * lb.c) AS BIGINT) AS out_rows,
        |    CAST(max(oa.c * lb.c) AS BIGINT) AS max_key_rows
        |  FROM oa JOIN lb ON lb.k = oa.k),
        |j2 AS (
        |  SELECT 'lineitem_self_partkey' AS join_name,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_left,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_right,
        |    CAST(count(*) AS BIGINT) AS n_keys_common,
        |    CAST(sum(pa.c * pb.c) AS BIGINT) AS out_rows,
        |    CAST(max(pa.c * pb.c) AS BIGINT) AS max_key_rows
        |  FROM pa JOIN pa pb ON pb.k = pa.k),
        |u AS (SELECT * FROM j1 UNION ALL SELECT * FROM j2)
        |SELECT join_name, n_left, n_right, n_keys_common, out_rows,
        |  max_key_rows,
        |  CAST(max_key_rows * 1000000 // out_rows AS BIGINT)
        |    AS top_key_share_micro
        |FROM u ORDER BY join_name""".stripMargin,

    "q07_inner_join" ->
      """SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |       count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q08_left_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_price
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q08b_right_join" ->
      """SELECT p_partkey, count(l_orderkey) AS n_lines
        |FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,

    "q09_full_outer_join" ->
      """WITH od AS (SELECT date_trunc('day', o_orderdate)::TIMESTAMP AS day, count(*) AS n_orders
        |            FROM orders GROUP BY 1),
        |     ld AS (SELECT date_trunc('day', l_shipdate)::TIMESTAMP AS day, count(*) AS n_ship
        |            FROM lineitem GROUP BY 1)
        |SELECT coalesce(od.day, ld.day) AS day,
        |       coalesce(n_orders, 0) AS n_orders,
        |       coalesce(n_ship, 0) AS n_ship
        |FROM od FULL OUTER JOIN ld ON od.day = ld.day
        |ORDER BY day""".stripMargin,

    "q10_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q10b_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q11_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q12_range_join" ->
      """SELECT c.event_id AS click_id, e.event_id AS err_id
        |FROM events c JOIN events e
        |  ON c.user_id = e.user_id
        | AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 5 MINUTE
        |WHERE c.event_type = 'click' AND e.event_type = 'error'
        |ORDER BY click_id, err_id""".stripMargin,

    "q12b_interval_bin_join" ->
      """WITH bands AS (
        |  SELECT n_name AS band, n_nationkey * 20.0 AS lo,
        |         n_nationkey * 20.0 + 30.0 AS hi
        |  FROM nation)
        |SELECT band, count(*) AS n,
        |       min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY band ORDER BY band""".stripMargin,

    // identical expected answer to q13 — the point of q13b is that a
    // different (binnable interval) plan computes the same as-of result
    "q13b_asof_interval" ->
      """SELECT p.event_id, p.ts,
        |       (SELECT max(c.ts) FROM events c
        |        WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |          AND c.ts <= p.ts) AS click_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q13_asof_join" ->
      """SELECT p.event_id, p.ts,
        |       (SELECT max(c.ts) FROM events c
        |        WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |          AND c.ts <= p.ts) AS click_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    // same star join; per-item fp multiply then exact int64 cent sums
    "q_tpch_local_supplier" ->
      """SELECT r.r_name AS region, n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  AND s.s_nationkey = c.c_nationkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,

    // the 5-step integer power iteration unrolled as chained CTEs —
    // DuckDB's // floors like the Scala Long division (all positive)
    "q_pagerank" ->
      """WITH edges AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT src, dst, w,
        |    CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS ow
        |  FROM edges),
        |r0 AS (SELECT n_nationkey AS node, CAST(40000 AS BIGINT) AS rank
        |       FROM nation),
        |r1 AS (
        |  SELECT n.n_nationkey AS node,
        |    CAST(6000 + 85 * COALESCE(c.contrib, 0) // 100 AS BIGINT) AS rank
        |  FROM nation n LEFT JOIN (
        |    SELECT e.dst, CAST(sum(r.rank * e.w // e.ow) AS BIGINT) AS contrib
        |    FROM e JOIN r0 r ON r.node = e.src GROUP BY e.dst) c
        |    ON c.dst = n.n_nationkey),
        |r2 AS (
        |  SELECT n.n_nationkey AS node,
        |    CAST(6000 + 85 * COALESCE(c.contrib, 0) // 100 AS BIGINT) AS rank
        |  FROM nation n LEFT JOIN (
        |    SELECT e.dst, CAST(sum(r.rank * e.w // e.ow) AS BIGINT) AS contrib
        |    FROM e JOIN r1 r ON r.node = e.src GROUP BY e.dst) c
        |    ON c.dst = n.n_nationkey),
        |r3 AS (
        |  SELECT n.n_nationkey AS node,
        |    CAST(6000 + 85 * COALESCE(c.contrib, 0) // 100 AS BIGINT) AS rank
        |  FROM nation n LEFT JOIN (
        |    SELECT e.dst, CAST(sum(r.rank * e.w // e.ow) AS BIGINT) AS contrib
        |    FROM e JOIN r2 r ON r.node = e.src GROUP BY e.dst) c
        |    ON c.dst = n.n_nationkey),
        |r4 AS (
        |  SELECT n.n_nationkey AS node,
        |    CAST(6000 + 85 * COALESCE(c.contrib, 0) // 100 AS BIGINT) AS rank
        |  FROM nation n LEFT JOIN (
        |    SELECT e.dst, CAST(sum(r.rank * e.w // e.ow) AS BIGINT) AS contrib
        |    FROM e JOIN r3 r ON r.node = e.src GROUP BY e.dst) c
        |    ON c.dst = n.n_nationkey),
        |r5 AS (
        |  SELECT n.n_nationkey AS node,
        |    CAST(6000 + 85 * COALESCE(c.contrib, 0) // 100 AS BIGINT) AS rank
        |  FROM nation n LEFT JOIN (
        |    SELECT e.dst, CAST(sum(r.rank * e.w // e.ow) AS BIGINT) AS contrib
        |    FROM e JOIN r4 r ON r.node = e.src GROUP BY e.dst) c
        |    ON c.dst = n.n_nationkey)
        |SELECT n.n_name AS nation, r.rank AS rank_micro
        |FROM r5 r JOIN nation n ON n.n_nationkey = r.node
        |ORDER BY rank_micro DESC, nation""".stripMargin,

    // INDEPENDENT dominance formulation (all-pairs NOT EXISTS) — the
    // point is that the single-sort window skyline computes the same
    // frontier a quadratic scan does. Integer `//` truncates toward
    // zero exactly like the Spark side's IntegralDivide (delay is
    // negative for early shippers; -7 // 2 = -3 on both engines).
    "q_skyline" ->
      """WITH m AS (
        |  SELECT l_suppkey AS suppkey,
        |    CAST(sum(round(l_extendedprice * (1 - l_discount) * 100))
        |      AS BIGINT) AS revenue_cents,
        |    CAST((sum(epoch_us(l_shipdate) - epoch_us(o_orderdate))
        |      + count(*) // 2) // count(*) AS BIGINT) AS delay_micro
        |  FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey
        |  GROUP BY 1)
        |SELECT s.s_name AS supplier, m.revenue_cents, m.delay_micro
        |FROM m JOIN supplier s ON s.s_suppkey = m.suppkey
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m q
        |  WHERE q.revenue_cents >= m.revenue_cents
        |    AND q.delay_micro <= m.delay_micro
        |    AND (q.revenue_cents > m.revenue_cents
        |         OR q.delay_micro < m.delay_micro))
        |ORDER BY revenue_cents DESC, delay_micro, supplier""".stripMargin,

    // the grid variant is bit-identical by the divide-and-conquer
    // identity — same declarative truth, same SQL
    "q_skyline_grid" ->
      """WITH m AS (
        |  SELECT l_suppkey AS suppkey,
        |    CAST(sum(round(l_extendedprice * (1 - l_discount) * 100))
        |      AS BIGINT) AS revenue_cents,
        |    CAST((sum(epoch_us(l_shipdate) - epoch_us(o_orderdate))
        |      + count(*) // 2) // count(*) AS BIGINT) AS delay_micro
        |  FROM lineitem l JOIN orders o ON l_orderkey = o_orderkey
        |  GROUP BY 1)
        |SELECT s.s_name AS supplier, m.revenue_cents, m.delay_micro
        |FROM m JOIN supplier s ON s.s_suppkey = m.suppkey
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM m q
        |  WHERE q.revenue_cents >= m.revenue_cents
        |    AND q.delay_micro <= m.delay_micro
        |    AND (q.revenue_cents > m.revenue_cents
        |         OR q.delay_micro < m.delay_micro))
        |ORDER BY revenue_cents DESC, delay_micro, supplier""".stripMargin,

    // same degree-ordered orientation, spelled as joins; tuple
    // comparisons expand to the Spark side's (deg, id) lexicographic
    "q_triangle_count" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b
        |      FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
        |        GROUP BY 1),
        |en AS (
        |  SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b
        |    END AS u,
        |    CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS v,
        |    CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d
        |    END AS dv
        |  FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
        |tris AS (
        |  SELECT w.u AS x, w.v1 AS y, w.v2 AS z FROM (
        |    SELECT e1.u AS u, e1.v AS v1, e2.v AS v2
        |    FROM en e1 JOIN en e2
        |      ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)) w
        |  JOIN en e3 ON e3.u = w.v1 AND e3.v = w.v2)
        |SELECT n AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT x AS n FROM tris UNION ALL SELECT y AS n FROM tris
        |      UNION ALL SELECT z AS n FROM tris)
        |GROUP BY 1 ORDER BY n_triangles DESC, p_partkey""".stripMargin,

    "q_kcore" -> kcoreSql,

    "q_supplier_similarity" ->
      """WITH m AS (
        |  SELECT l_suppkey AS sk, l_partkey AS pk,
        |    CAST(sum(round(l_quantity * 100)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |norms AS (
        |  SELECT sk, CAST(sum(q * q) AS BIGINT) AS n2
        |  FROM m GROUP BY sk),
        |pairs AS (
        |  SELECT a.sk AS sa, b.sk AS sb,
        |    CAST(sum(a.q * b.q) AS BIGINT) AS dot
        |  FROM m a JOIN m b ON a.pk = b.pk AND a.sk <> b.sk
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT p.sa, p.sb,
        |    CAST(floor(CAST(p.dot AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
        |      * 1000000.0 + 0.5) AS BIGINT) AS cos_micro
        |  FROM pairs p JOIN norms na ON na.sk = p.sa
        |               JOIN norms nb ON nb.sk = p.sb),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY sa
        |    ORDER BY cos_micro DESC, sb) AS BIGINT) AS rnk FROM sc)
        |SELECT sa AS suppkey, rnk, sb AS similar_supp, cos_micro
        |FROM rk WHERE rnk <= 5 ORDER BY suppkey, rnk""".stripMargin,

    // MATERIALIZED matters again (the kcoreSql lesson): zn feeds the
    // wedge self-join twice and would otherwise inline the whole
    // basket pair-gen per side
    "q_link_predict" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT a.p AS a, b.p AS b, CAST(count(*) AS BIGINT) AS st
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2),
        |und AS (
        |  SELECT a AS z, b AS x, st FROM e
        |  UNION ALL SELECT b AS z, a AS x, st FROM e),
        |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d
        |        FROM und GROUP BY z),
        |zn AS MATERIALIZED (
        |  SELECT u.z, u.x, (2000000 + dg.d) // (dg.d * 2) AS c
        |  FROM (SELECT z, x, row_number() OVER (PARTITION BY z
        |          ORDER BY st DESC, x) AS rk FROM und) u
        |  JOIN deg dg ON dg.z = u.z
        |  WHERE u.rk <= 20),
        |pairs AS (
        |  SELECT a.x AS u, b.x AS w, CAST(sum(a.c) AS BIGINT) AS ra_micro,
        |         CAST(count(*) AS BIGINT) AS n_common
        |  FROM zn a JOIN zn b ON a.z = b.z AND a.x < b.x
        |  GROUP BY 1, 2)
        |SELECT u AS part_a, w AS part_b, n_common, ra_micro
        |FROM pairs p
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.u AND e.b = p.w)
        |ORDER BY ra_micro DESC, part_a, part_b LIMIT 50""".stripMargin,

    "q_label_prop" -> labelPropSql,

    "q_graph_modularity" -> modularitySql,

    "q_shortest_path" -> shortestPathSql,

    "q_ppr" -> pprSql,

    "q_graph_assortativity" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS MATERIALIZED (SELECT x.p AS a, y.p AS b
        |   FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
        |   GROUP BY 1, 2 HAVING count(*) >= 2),
        |ed AS MATERIALIZED (
        |   SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS d
        |        FROM ed GROUP BY u),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(du.d) AS BIGINT) AS sx,
        |        CAST(sum(dv.d) AS BIGINT) AS sy,
        |        CAST(sum(du.d * du.d) AS BIGINT) AS sxx,
        |        CAST(sum(dv.d * dv.d) AS BIGINT) AS syy,
        |        CAST(sum(du.d * dv.d) AS BIGINT) AS sxy
        |      FROM ed JOIN deg du ON ed.u = du.n
        |              JOIN deg dv ON ed.v = dv.n)
        |SELECT n // 2 AS n_edges,
        |  CAST(floor(CAST(n*sxy - sx*sy AS DOUBLE)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
        |           * CAST(n*syy - sy*sy AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) AS assort_micro
        |FROM g ORDER BY n_edges""".stripMargin,

    // the FULL recompute — the equivalence gate for the incremental
    // store+delta plan (maintenance must never change the answer)
    "q_ivm_rollup" ->
      """SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |       count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // the FULL recompute of the second maintained view — same
    // equivalence gate (maintenance must never change the answer)
    "q_ivm_events" ->
      """SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS hr,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
        |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type, hr ORDER BY event_type, hr""".stripMargin,

    // supports exact, confidence/lift mirrored as the same half-up
    // int64 micro divisions
    "q_basket_rules" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM op),
        |sa AS (SELECT p, CAST(count(*) AS BIGINT) AS s FROM op GROUP BY p),
        |pairs AS (
        |  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS s_ab
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pa AS part_a, pb AS part_b, s_ab,
        |  za.s AS s_a, zb.s AS s_b,
        |  (s_ab * 1000000 + za.s // 2) // za.s AS conf_micro,
        |  (s_ab * n.n_orders * 2000000 + za.s * zb.s)
        |    // (za.s * zb.s * 2) AS lift_micro
        |FROM pairs
        |JOIN sa za ON za.p = pa
        |JOIN sa zb ON zb.p = pb
        |CROSS JOIN n
        |ORDER BY lift_micro DESC, part_a, part_b LIMIT 50""".stripMargin,

    // Mirrors the level-wise pruned plan (MATERIALIZED is load-bearing
    // — the kcoreSql lesson: fpr feeds the candidate self-join twice).
    // The naive direct enumeration was measured instead at sf0.01/sf0.1
    // (downward closure makes the pruning answer-preserving — identical
    // 150,586 / 16,235 frequent triples) but enumerates ~1.3e9 basket
    // triples at the 10× replica, past the oracle box; the pruned form
    // scales with frequent-pair instances (836k at sf0.1, the 94% cut).
    "q_basket_triples" ->
      """WITH op AS (
        |  SELECT DISTINCT o_custkey AS o, l_partkey AS p
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |pr AS MATERIALIZED (
        |  SELECT x.o, x.p AS a, y.p AS b
        |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
        |f0 AS MATERIALIZED (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS s FROM pr GROUP BY a, b),
        |m AS (SELECT greatest(2, (2 * CAST(sum(s) AS BIGINT)) // count(*))
        |      AS ms FROM f0),
        |f2 AS MATERIALIZED (
        |  SELECT a, b FROM f0 WHERE s >= (SELECT ms FROM m)),
        |fpr AS MATERIALIZED (
        |  SELECT pr.o, pr.a, pr.b FROM pr SEMI JOIN f2 USING (a, b)),
        |tri AS (
        |  SELECT x.a, x.b, y.b AS c
        |  FROM fpr x JOIN fpr y ON x.o = y.o AND x.a = y.a AND x.b < y.b
        |  SEMI JOIN f2 ON f2.a = x.b AND f2.b = y.b)
        |SELECT a AS part_a, b AS part_b, c AS part_c,
        |       CAST(count(*) AS BIGINT) AS s_abc
        |FROM tri GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT ms FROM m)
        |ORDER BY s_abc DESC, part_a, part_b, part_c LIMIT 50""".stripMargin
  )

  /** DuckDB LPA oracle: 4 UNROLLED synchronous rounds, generated one
    * template per round (the kcoreSql discipline — MATERIALIZED is
    * load-bearing, each round reads its predecessor once per reference).
    * Mode-with-min-tiebreak via count + row_number, exactly the Spark
    * window. */
  /** Shared WITH-prefix for the LPA pair (the lpa() twin): backbone,
    * directed edges, l0..l4 unrolled rounds. */
  private def lpaCtes: String = {
    val rounds = (1 to 4).map { r =>
      s""",l$r AS MATERIALIZED (
         |  SELECT u AS n, lbl FROM (
         |    SELECT und.u, l.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY und.u
         |        ORDER BY count(*) DESC, l.lbl) AS rk
         |    FROM und JOIN l${r - 1} l ON l.n = und.v
         |    GROUP BY und.u, l.lbl)
         |  WHERE rk = 1)""".stripMargin
    }.mkString("\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |            FROM lineitem),
       |e AS MATERIALIZED (SELECT x.p AS a, y.p AS b
       |     FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
       |     GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
       |l0 AS (SELECT DISTINCT u AS n, u AS lbl FROM und)
       |$rounds""".stripMargin
  }

  private def labelPropSql: String =
    s"""$lpaCtes
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |       min(n) AS min_node
       |FROM l4 GROUP BY lbl
       |ORDER BY n_members DESC, community""".stripMargin

  /** Modularity over the SAME unrolled LPA: the +4m² shift makes the
    * micro numerator non-negative, so DuckDB's flooring // equals
    * Spark's truncating IntegralDivide exactly (Q can be negative). */
  private def modularitySql: String =
    s"""$lpaCtes
       |,mm AS (SELECT CAST(count(*) AS BIGINT) // 2 AS m FROM und),
       |ee AS (SELECT lu.lbl AS lu, lv.lbl AS lv
       |       FROM und JOIN l4 lu ON lu.n = und.u
       |                JOIN l4 lv ON lv.n = und.v),
       |cc AS (SELECT lu AS c, CAST(count(*) AS BIGINT) AS dc,
       |         CAST(sum(CASE WHEN lu = lv THEN 1 ELSE 0 END) AS BIGINT)
       |           AS intra
       |       FROM ee GROUP BY lu)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM cc) AS n_communities,
       |       m AS n_edges,
       |       CAST(((SELECT CAST(sum(2*m*intra - dc*dc) AS BIGINT)
       |              FROM cc) + 4*m*m) * 250000 // (m*m) - 1000000
       |         AS BIGINT) AS q_micro
       |FROM mm ORDER BY n_edges""".stripMargin

  /** DuckDB k-core oracle: 8 UNROLLED peel rounds — strictly more than
    * the measured 6-round fixpoint at both oracle SFs, and rounds past
    * the fixpoint are identity (no node is below k, so every round
    * filter keeps everything) — which makes the unrolled form equal to
    * the Spark side's adaptive loop exactly. Generated, not hand-typed:
    * one template per round.
    *
    * FIXPOINT GUARD: the unroll bound is itself asserted IN the oracle —
    * if a future fixture/replica needed more than 8 peel rounds
    * (count(e8) ≠ count(e7)), the oracle emits a (-1, -1) sentinel row,
    * so the gate fails with a visible "oracle hit its unroll bound"
    * signature (one extra row sorting first) instead of silently
    * blaming the Spark side's deeper adaptive answer. At the fixpoint
    * the WHERE is false and the query is unchanged. */
  /** DuckDB Bellman-Ford oracle: 10 UNROLLED min-plus rounds — above
    * the measured fixpoint (6 at sf0.01, 7 at sf0.1); rounds past the
    * fixpoint are identity (no dist improves), so unrolled == adaptive
    * exactly. Self-asserting unroll bound (the kcoreSql guard): if d10
    * still differs from d9 — more nodes reached OR any dist improved —
    * a (-1,-1) sentinel row appears and the gate fails visibly. */
  /** PPR: 4 unrolled spread rounds over the same backbone CTEs as
    * q_shortest_path — integer micro mass, per-round zero-mass prune. */
  private def pprSql: String = {
    val rounds = (1 to 4).map { r =>
      s""",p$r AS MATERIALIZED (
         |  SELECT src, n, CAST(sum(m) AS BIGINT) AS m FROM (
         |    SELECT p.src, e.v AS n, (85 * (p.m // dg.d)) // 100 AS m
         |    FROM p${r - 1} p JOIN ed e ON e.u = p.n
         |    JOIN deg dg ON dg.u = p.n
         |    UNION ALL SELECT s, s, 150000 FROM srcs) t
         |  GROUP BY src, n HAVING sum(m) > 0)""".stripMargin
    }.mkString("\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |            FROM lineitem),
       |eb AS MATERIALIZED (SELECT x.p AS a, y.p AS b
       |   FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
       |   GROUP BY 1, 2 HAVING count(*) >= 2),
       |ed AS MATERIALIZED (
       |   SELECT a AS u, b AS v FROM eb UNION ALL SELECT b, a FROM eb),
       |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM ed GROUP BY u),
       |srcs AS (SELECT u AS s FROM deg ORDER BY d DESC, u LIMIT 8),
       |p0 AS (SELECT s AS src, s AS n, CAST(1000000 AS BIGINT) AS m
       |       FROM srcs)
       |$rounds
       |SELECT src, n AS p_partkey, m AS mass_micro FROM p4
       |ORDER BY src, p_partkey""".stripMargin
  }

  private def shortestPathSql: String = {
    val rounds = (1 to 10).map { r =>
      s""",d$r AS MATERIALIZED (SELECT n, min(dist) AS dist FROM (
         |    SELECT n, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT ed.v AS n, p.dist + ed.w AS dist
         |    FROM d${r - 1} p JOIN ed ON ed.u = p.n) t
         |  GROUP BY n)""".stripMargin
    }.mkString("\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |            FROM lineitem),
       |eb AS MATERIALIZED (SELECT x.p AS a, y.p AS b, count(*) AS st
       |   FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
       |   GROUP BY 1, 2 HAVING count(*) >= 2),
       |ed AS MATERIALIZED (
       |   SELECT a AS u, b AS v, 1000 // st + 1 AS w FROM eb
       |   UNION ALL SELECT b, a, 1000 // st + 1 FROM eb),
       |deg AS (SELECT u AS n, count(*) AS d FROM ed GROUP BY u),
       |d0 AS MATERIALIZED (SELECT n, CAST(0 AS BIGINT) AS dist FROM (
       |   SELECT n, row_number() OVER (ORDER BY d DESC, n) AS rk
       |   FROM deg) t WHERE rk <= 128)
       |$rounds
       |SELECT p_partkey, dist FROM (
       |  SELECT n AS p_partkey, CAST(dist AS BIGINT) AS dist FROM d10
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
       |  WHERE (SELECT count(*) FROM d10) <> (SELECT count(*) FROM d9)
       |     OR (SELECT sum(dist) FROM d10) <> (SELECT sum(dist) FROM d9)
       |) ORDER BY p_partkey""".stripMargin
  }

  private def kcoreSql: String = {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // round references its predecessor 3× — un-materialized, e8 expands
    // to 3^8 copies of the base scan (measured: file-handle exhaustion)
    val rounds = (1 to 8).map { r =>
      s""",d$r AS MATERIALIZED (SELECT n, count(*) AS d FROM (
         |    SELECT a AS n FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) t
         |  GROUP BY n)
         |,e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT n FROM d$r WHERE d >= 80)
         |    AND b IN (SELECT n FROM d$r WHERE d >= 80))""".stripMargin
    }.mkString("\n")
    s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |            FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
       |       FROM op x JOIN op y ON x.o = y.o AND x.p < y.p)
       |$rounds
       |SELECT p_partkey, core_deg FROM (
       |  SELECT n AS p_partkey, CAST(count(*) AS BIGINT) AS core_deg
       |  FROM (SELECT a AS n FROM e8 UNION ALL SELECT b FROM e8) t
       |  GROUP BY n
       |  UNION ALL
       |  SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
       |  WHERE (SELECT count(*) FROM e8) <> (SELECT count(*) FROM e7)
       |) ORDER BY p_partkey""".stripMargin
  }
}
