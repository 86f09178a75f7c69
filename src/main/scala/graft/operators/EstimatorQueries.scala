package graft.operators

import graft.{Q, Tables}
import graft.functions.TSql._
import graft.functions.Text
import graft.functions.FixedPoint.{Duck, Spark}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Planner-statistics audits — the estimator formulas a cost-based
  * optimizer runs against CREATE STATISTICS output (reference:
  * samples/scripts/statistics/Statistics-Examples.sql), each reported NEXT
  * TO the exact answer so the estimate ships with its own error audit:
  *
  *   - q545 System-R join-cardinality estimate |R ⋈ S| ≈ |R||S| /
  *     max(ndv_R, ndv_S) vs the actual join count, per join pair.
  *   - q546 equi-width-histogram range selectivity (with partial-bucket
  *     interpolation, exact floor arithmetic) vs the actual row count.
  *   - q547 functional-dependency discovery: FD a→b holds iff
  *     ndv(a) = ndv(a,b); the strength ratio grades soft dependencies —
  *     what multi-column statistics and dictionary layouts key on.
  *   - q548 hash-distribution-column advisor over the reference's 60
  *     distributions (whitepaper.md:37, `catalog/TablePolicy.Hash`):
  *     per candidate column, balance across portable-hash buckets plus
  *     the low-NDV trap check — the DISTRIBUTION = HASH(col) decision.
  *
  * Scale posture: every audit column marked "exact" (actual join counts,
  * exact NDVs) is the VERIFICATION half; the estimator half is one
  * metadata-scale formula. At 100 TB production reads the estimator from
  * sketches (q09's portable HLL) and skips the exact pass; here both run
  * so the gate can certify the formulas.
  */
object EstimatorQueries {

  // ----------------- q545: System-R join-cardinality estimate vs actual

  /** q545: the selinger selectivity 1/max(ndv₁, ndv₂) applied to three
    * equi-joins of the star schema, against the true join cardinality.
    * FK joins (lineitem→orders) land exactly; the estimate's miss on
    * filtered or skewed keys is the number a plan-regression triage reads.
    */
  val q545JoinCardEstimate: Q = (s, dir) => {
    def pair(label: String, left: DataFrame, lk: String,
             right: DataFrame, rk: String): DataFrame = {
      val lStats = left.agg(count(lit(1)).as("n1"),
        countDistinct(col(lk)).as("ndv1"))
      val rStats = right.agg(count(lit(1)).as("n2"),
        countDistinct(col(rk)).as("ndv2"))
      val actual = left.join(right, col(lk) === col(rk))
        .agg(count(lit(1)).as("actual_rows"))
      lStats.crossJoin(broadcast(rStats)).crossJoin(broadcast(actual))
        .select(lit(label).as("join_pair"), col("n1"), col("n2"),
          col("ndv1"), col("ndv2"),
          expr("n1 * n2 div greatest(ndv1, ndv2)").as("est_rows"),
          col("actual_rows"))
        .withColumn("est_vs_actual_e6",
          expr("est_rows * 1000000 div actual_rows"))
    }
    Seq(
      pair("lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey"),
      pair("lineitem_part", Tables.lineitem(s, dir), "l_partkey",
        Tables.part(s, dir), "p_partkey"),
      pair("orders_customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"))
      .reduce(_.unionAll(_)).orderBy(col("join_pair"))
  }

  val q545Sql: String = {
    def branch(label: String, lt: String, lk: String,
               rt: String, rk: String): String =
      s"""SELECT '$label' AS join_pair,
         |  (SELECT COUNT(*) FROM $lt) AS n1,
         |  (SELECT COUNT(*) FROM $rt) AS n2,
         |  (SELECT COUNT(DISTINCT $lk) FROM $lt) AS ndv1,
         |  (SELECT COUNT(DISTINCT $rk) FROM $rt) AS ndv2,
         |  (SELECT COUNT(*) FROM $lt JOIN $rt ON $lk = $rk) AS actual_rows"""
        .stripMargin
    val branches = Seq(
      branch("lineitem_orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      branch("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      branch("orders_customer", "orders", "o_custkey",
        "customer", "c_custkey")).mkString("\nUNION ALL\n")
    s"""WITH per AS (
       |$branches)
       |SELECT join_pair, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  CAST(ndv1 AS BIGINT) AS ndv1, CAST(ndv2 AS BIGINT) AS ndv2,
       |  CAST(n1 * n2 // GREATEST(ndv1, ndv2) AS BIGINT) AS est_rows,
       |  CAST(actual_rows AS BIGINT) AS actual_rows,
       |  CAST((n1 * n2 // GREATEST(ndv1, ndv2)) * 1000000 // actual_rows
       |    AS BIGINT) AS est_vs_actual_e6
       |FROM per
       |ORDER BY join_pair""".stripMargin
  }

  // ------------- q546: histogram range-selectivity estimate vs actual

  /** Equi-width bucket count for the selectivity histogram. */
  private val HistBuckets = 64L

  /** q546: a 64-bucket equi-width histogram on o_totalprice answers six
    * range predicates by full buckets + linear interpolation on the two
    * partial ones (cnt·overlap div width — exact floor arithmetic), each
    * next to the true count. The error column is what decides whether the
    * histogram needs more buckets (q508's bin-width advisor feeds this).
    */
  val q546SelectivityHist: Q = (s, dir) => {
    val vals = Tables.orders(s, dir)
      .select(cents(col("o_totalprice")).as("v"))
    val ext = vals.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .withColumn("width", expr(s"(vmax - vmin) div $HistBuckets + 1"))
    val hist = vals.crossJoin(broadcast(ext))
      .groupBy(expr("(v - vmin) div width").as("b"),
        col("vmin"), col("width"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("b_lo", expr("vmin + b * width"))
    val ranges = s.range(6).toDF("rid").crossJoin(broadcast(ext))
      .select(col("rid"),
        expr("vmin + rid * (vmax - vmin + 1) div 6").as("lo"),
        expr("vmin + rid * (vmax - vmin + 1) div 6 + " +
          "(vmax - vmin + 1) div 8").as("hi"))
    val est = hist.join(broadcast(ranges),
      col("b_lo") < col("hi") && col("b_lo") + col("width") > col("lo"))
      .withColumn("overlap",
        least(col("hi"), col("b_lo") + col("width")) -
          greatest(col("lo"), col("b_lo")))
      .groupBy(col("rid"))
      .agg(sum(expr("cnt * overlap div width")).as("est_rows"))
    val actual = vals.join(broadcast(ranges),
      col("v") >= col("lo") && col("v") < col("hi"))
      .groupBy(col("rid"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("actual_rows"))
    actual.join(est, "rid")
      .select(col("rid"), col("lo"), col("hi"), col("est_rows"),
        col("actual_rows"),
        // NULL when actual_rows = 0 (zero denominator)
        expr(Spark.truncDivLong("(est_rows - actual_rows) * 1000000",
          "actual_rows")).as("err_e6"))
      .orderBy(col("rid"))
  }

  val q546Sql: String =
    s"""WITH vals AS (
       |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders),
       |ext AS (
       |  SELECT MIN(v) AS vmin, MAX(v) AS vmax,
       |    (MAX(v) - MIN(v)) // $HistBuckets + 1 AS width
       |  FROM vals),
       |hist AS (
       |  SELECT (v - vmin) // width AS b, vmin, width, COUNT(*) AS cnt,
       |    vmin + ((v - vmin) // width) * width AS b_lo
       |  FROM vals CROSS JOIN ext GROUP BY 1, 2, 3, 5),
       |ranges AS (
       |  SELECT CAST(r.range AS BIGINT) AS rid,
       |    vmin + CAST(r.range AS BIGINT) * (vmax - vmin + 1) // 6 AS lo,
       |    vmin + CAST(r.range AS BIGINT) * (vmax - vmin + 1) // 6
       |      + (vmax - vmin + 1) // 8 AS hi
       |  FROM range(0, 6) r CROSS JOIN ext),
       |est AS (
       |  SELECT rid,
       |    SUM(cnt * (LEAST(hi, b_lo + width) - GREATEST(lo, b_lo))
       |      // width) AS est_rows
       |  FROM hist JOIN ranges ON b_lo < hi AND b_lo + width > lo
       |  GROUP BY 1),
       |actual AS (
       |  SELECT rid, lo, hi, COUNT(*) AS actual_rows
       |  FROM vals JOIN ranges ON v >= lo AND v < hi
       |  GROUP BY 1, 2, 3)
       |SELECT rid, lo, hi, CAST(est_rows AS BIGINT) AS est_rows,
       |  CAST(actual_rows AS BIGINT) AS actual_rows,
       |  ${Duck.truncDivLong("(est_rows - actual_rows) * 1000000",
              "actual_rows")} AS err_e6
       |FROM actual JOIN est USING (rid)
       |ORDER BY rid""".stripMargin

  // ---------------------------- q547: functional-dependency discovery

  /** The candidate (table, determinant, dependent) pairs. */
  private val FdPairs: Seq[(String, (SparkSession, String) => DataFrame, String, String)] =
    Seq(
      ("part.p_name->p_brand", Tables.part _, "p_name", "p_brand"),
      ("part.p_name->p_type", Tables.part _, "p_name", "p_type"),
      ("part.p_brand->p_type", Tables.part _, "p_brand", "p_type"),
      ("orders.o_custkey->o_orderpriority", Tables.orders _,
        "o_custkey", "o_orderpriority"),
      ("nation.n_nationkey->n_regionkey", Tables.nation _,
        "n_nationkey", "n_regionkey"),
      ("lineitem.l_orderkey->l_returnflag", Tables.lineitem _,
        "l_orderkey", "l_returnflag"))

  /** q547: FD mining by the NDV identity — a→b holds exactly when every
    * determinant value maps to one dependent value, i.e. ndv(a) =
    * ndv(a,b); strength_e6 = ndv(a)/ndv(a,b) grades near-dependencies.
    * One distinct-pair shuffle per candidate; everything downstream is on
    * the distinct set.
    */
  val q547FdDiscovery: Q = (s, dir) => {
    FdPairs.map { case (label, loader, a, b) =>
      loader(s, dir).select(col(a).as("a"), col(b).as("b")).distinct()
        .agg(count(lit(1)).as("ndv_pair"), countDistinct(col("a")).as("ndv_lhs"))
        .select(lit(label).as("candidate"), col("ndv_lhs"), col("ndv_pair"),
          (col("ndv_lhs") === col("ndv_pair")).cast("long").as("fd_holds"),
          expr("ndv_lhs * 1000000 div ndv_pair").as("strength_e6"))
    }.reduce(_.unionAll(_)).orderBy(col("candidate"))
  }

  val q547Sql: String = {
    val branches = FdPairs.map { case (label, _, a, b) =>
      val table = label.split('.').head
      s"""SELECT '$label' AS candidate,
         |  COUNT(DISTINCT a) AS ndv_lhs, COUNT(*) AS ndv_pair
         |FROM (SELECT DISTINCT $a AS a, $b AS b FROM $table)"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH per AS (
       |$branches)
       |SELECT candidate, CAST(ndv_lhs AS BIGINT) AS ndv_lhs,
       |  CAST(ndv_pair AS BIGINT) AS ndv_pair,
       |  CAST(CASE WHEN ndv_lhs = ndv_pair THEN 1 ELSE 0 END AS BIGINT)
       |    AS fd_holds,
       |  CAST(ndv_lhs * 1000000 // ndv_pair AS BIGINT) AS strength_e6
       |FROM per
       |ORDER BY candidate""".stripMargin
  }

  // ------------- q548: hash-distribution-column advisor (60 distributions)

  /** The reference's fixed distribution count (whitepaper.md:37). */
  private val Distributions = 60L

  /** Candidate (table, column) distribution keys. */
  private val DistCols: Seq[(String, (SparkSession, String) => DataFrame, String)] =
    Seq(
      ("orders.o_custkey", Tables.orders _, "o_custkey"),
      ("orders.o_orderkey", Tables.orders _, "o_orderkey"),
      ("orders.o_orderdate", Tables.orders _, "o_orderdate"),
      ("lineitem.l_orderkey", Tables.lineitem _, "l_orderkey"),
      ("lineitem.l_partkey", Tables.lineitem _, "l_partkey"),
      ("lineitem.l_suppkey", Tables.lineitem _, "l_suppkey"))

  /** q548: which column should DISTRIBUTION = HASH(col) use? Per candidate:
    * rows land in 60 portable-hash buckets; the advisor reports occupancy
    * (distributions hit), the largest distribution, the skew ratio
    * max·60/n (1.0e6 = perfectly level), exact column NDV for the low-NDV
    * trap (fewer distinct values than distributions guarantees idle
    * distributions), and the verdict a CTAS policy would act on — the
    * monitoring toolkit's vw_tables_with_skew turned prescriptive.
    */
  val q548DistributionAdvisor: Q = (s, dir) => {
    DistCols.map { case (label, loader, c) =>
      val hashed = loader(s, dir).select(
        (Text.portableHash(concat(lit("d|"), col(c).cast("string")))
          % Distributions).as("d"),
        col(c).as("v"))
      val perD = hashed.groupBy(col("d")).agg(count(lit(1)).as("rows"))
      val ndv = hashed.agg(countDistinct(col("v")).as("ndv"))
      perD.agg(count(lit(1)).as("distributions_hit"),
        sum(col("rows")).as("n"), max(col("rows")).as("max_rows"))
        .crossJoin(broadcast(ndv))
        .select(lit(label).as("candidate"), col("n"), col("ndv"),
          col("distributions_hit"), col("max_rows"),
          expr(s"max_rows * $Distributions * 1000000 div n").as("skew_e6"))
        .withColumn("verdict", expr(
          s"""CASE WHEN ndv < $Distributions * 10 THEN 'low_ndv'
             | WHEN max_rows * $Distributions * 1000000 div n > 2000000
             | THEN 'skewed' ELSE 'good' END"""
            .stripMargin.replace("\n", " ")))
    }.reduce(_.unionAll(_)).orderBy(col("candidate"))
  }

  val q548Sql: String = {
    val branches = DistCols.map { case (label, _, c) =>
      val table = label.split('.').head
      s"""SELECT '$label' AS candidate, COUNT(*) AS n,
         |  COUNT(DISTINCT v) AS ndv,
         |  COUNT(DISTINCT d) AS distributions_hit,
         |  MAX(per_rows) AS max_rows
         |FROM (
         |  SELECT v, d, COUNT(*) OVER (PARTITION BY d) AS per_rows
         |  FROM (SELECT $c AS v,
         |    CAST(('0x' || substr(md5('d|' || CAST($c AS VARCHAR)), 1, 15))
         |      AS BIGINT) % $Distributions AS d
         |    FROM $table))"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH per AS (
       |$branches)
       |SELECT candidate, CAST(n AS BIGINT) AS n, CAST(ndv AS BIGINT) AS ndv,
       |  CAST(distributions_hit AS BIGINT) AS distributions_hit,
       |  CAST(max_rows AS BIGINT) AS max_rows,
       |  CAST(max_rows * $Distributions * 1000000 // n AS BIGINT)
       |    AS skew_e6,
       |  CASE WHEN ndv < $Distributions * 10 THEN 'low_ndv'
       |    WHEN max_rows * $Distributions * 1000000 // n > 2000000
       |    THEN 'skewed' ELSE 'good' END AS verdict
       |FROM per
       |ORDER BY candidate""".stripMargin
  }

  // ------------- q557: rendezvous-hash rebalance audit (elastic scale-out)

  /** Cluster sizes before/after the scale-out step. */
  private val RvNodesBefore = 12
  private val RvNodesAfter = 13

  /** q557: what does adding one node to a rendezvous-hashed (HRW) cluster
    * move? Every key is assigned to argmax over nodes of the portable
    * hash(node, key), at 12 and at 13 nodes; the defining property —
    * keys move ONLY to the new node, about 1/13 of them — is counted
    * exactly and shipped as the moved = new-node-load certificate, next
    * to the load spread at both sizes. This is the elasticity story the
    * reference's service-objective scaling (D8) tells at the storage
    * layer: scale-out cost is bounded and predictable.
    *
    * Plan: keys × 26 node scores generated in place (explode of a
    * 26-literal array), two argmax windows per key, one rollup.
    */
  val q557RendezvousRebalance: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // the 26-node md5 fan-out ran on the scan's single split (2.3 s, one
    // task, at sf0.1) — spread the keys before the explode (guide §2.5);
    // hash exchange on the unique key, no-op at scale
    val scored = Tables.parallelizedBy(
        Tables.orders(s, dir).select(col("o_orderkey").cast("long").as("k")),
        col("k"))
      .select(col("k"), explode(array(
        (0 until RvNodesAfter).map(n => struct(lit(n).as("node"),
          Text.portableHash(concat(lit(s"r|$n|"), col("k").cast("string")))
            .as("sc"))): _*)).as("e"))
      .select(col("k"), col("e.node").as("node"), col("e.sc").as("sc"))
    // both argmaxes come out of ONE partial-aggregating max (struct max,
    // tiebreak (sc desc, node asc) via the negated node) — map-side
    // combine instead of two rank windows over keys × 26 scores
    val j = scored.groupBy(col("k")).agg(
      max(struct(col("sc"), (-col("node")).as("nn"))).as("m13"),
      max(when(col("node") < RvNodesBefore,
        struct(col("sc"), (-col("node")).as("nn")))).as("m12"))
      .select(col("k"), (-col("m13.nn")).as("n13"), (-col("m12.nn")).as("n12"))
      .localCheckpoint()
    val loads = j.groupBy(col("n13")).agg(count(lit(1)).as("l"))
    j.agg(count(lit(1)).as("n_keys"),
      sum((col("n13") =!= col("n12")).cast("long")).as("moved"),
      sum((col("n13") === lit(RvNodesBefore)).cast("long"))
        .as("new_node_load"))
      .crossJoin(broadcast(loads.agg(max(col("l")).as("max_load13"),
        min(col("l")).as("min_load13"))))
      .select(col("n_keys"), col("moved"), col("new_node_load"),
        expr("moved * 1000000 div n_keys").as("moved_e6"),
        lit(1000000L / RvNodesAfter).as("expected_moved_e6"),
        col("max_load13"), col("min_load13"))
  }

  val q557Sql: String = {
    val scoreRows = (0 until RvNodesAfter).map(n =>
      s"""SELECT k, $n AS node,
         |CAST(('0x' || substr(md5('r|$n|' || CAST(k AS VARCHAR)), 1, 15))
         |  AS BIGINT) AS sc FROM keys""".stripMargin.replace("\n", " "))
      .mkString("\nUNION ALL\n")
    s"""WITH keys AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
       |scored AS (
       |$scoreRows),
       |a13 AS (
       |  SELECT k, node AS n13 FROM (
       |    SELECT k, node, ROW_NUMBER() OVER (PARTITION BY k
       |      ORDER BY sc DESC, node) AS rk FROM scored)
       |  WHERE rk = 1),
       |a12 AS (
       |  SELECT k, node AS n12 FROM (
       |    SELECT k, node, ROW_NUMBER() OVER (PARTITION BY k
       |      ORDER BY sc DESC, node) AS rk
       |    FROM scored WHERE node < $RvNodesBefore)
       |  WHERE rk = 1),
       |j AS (SELECT a13.k, n13, n12 FROM a13 JOIN a12 USING (k)),
       |loads AS (
       |  SELECT MAX(l) AS max_load13, MIN(l) AS min_load13
       |  FROM (SELECT n13, COUNT(*) AS l FROM j GROUP BY 1))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       |  CAST(SUM(CASE WHEN n13 <> n12 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS moved,
       |  CAST(SUM(CASE WHEN n13 = $RvNodesBefore THEN 1 ELSE 0 END)
       |    AS BIGINT) AS new_node_load,
       |  CAST(SUM(CASE WHEN n13 <> n12 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS moved_e6,
       |  CAST(${1000000L / RvNodesAfter} AS BIGINT) AS expected_moved_e6,
       |  CAST(MAX(max_load13) AS BIGINT) AS max_load13,
       |  CAST(MAX(min_load13) AS BIGINT) AS min_load13
       |FROM j CROSS JOIN loads""".stripMargin
  }

  // ---------- q558: consistent-hash ring balance vs virtual-node count

  /** Ring nodes and the virtual-node ladder audited. */
  private val RingNodes = 12
  private val VnodeLadder = Seq(1, 4, 16)

  /** q558: the classic consistent-hash balance defect and its vnode cure,
    * measured exactly — each key goes to the first ring point clockwise
    * from its own hash (min (ring − key) mod 2⁶⁰); with 1 vnode per node
    * arc lengths are wildly uneven, and the max/avg skew ratio falls as
    * virtual nodes multiply. All ring points are plan-time literals of
    * the portable hash, so both engines place every key identically.
    *
    * Plan: per ladder rung, keys join a broadcast ring-point table and
    * take one argmin window; rollups are node-bounded.
    */
  val q558RingBalance: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val keys = Tables.customer(s, dir)
      .select(col("c_custkey").cast("long").as("k"),
        Text.portableHash(concat(lit("k|"), col("c_custkey").cast("string")))
          .as("kh"))
      .localCheckpoint()
    VnodeLadder.map { v =>
      val ring = keys.sparkSession.range(RingNodes * v).toDF("i")
        .select((col("i") % RingNodes).cast("int").as("node"),
          col("i"))
        .withColumn("rh",
          Text.portableHash(concat(lit("v|"), col("i").cast("string"))))
        .drop("i")
      val assigned = keys.crossJoin(broadcast(ring))
        .withColumn("gap", expr(
          "pmod(rh - kh, 1152921504606846976)"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("gap"), col("node"))))
        .filter(col("rk") === 1)
      assigned.groupBy(col("node")).agg(count(lit(1)).as("l"))
        .agg(count(lit(1)).as("nodes_hit"), sum(col("l")).as("n_keys"),
          max(col("l")).as("max_load"), min(col("l")).as("min_load"))
        .select(lit(v.toLong).as("vnodes"), col("n_keys"), col("nodes_hit"),
          col("max_load"), col("min_load"),
          expr(s"max_load * $RingNodes * 1000000 div n_keys").as("skew_e6"))
    }.reduce(_.unionAll(_)).orderBy(col("vnodes"))
  }

  val q558Sql: String = {
    val branches = VnodeLadder.map { v =>
      val ringRows = (0 until RingNodes * v).map(i =>
        s"SELECT ${i % RingNodes} AS node, CAST(('0x' || " +
          s"substr(md5('v|$i'), 1, 15)) AS BIGINT) AS rh")
        .mkString(" UNION ALL ")
      s"""SELECT $v AS vnodes, COUNT(*) AS nodes_hit, SUM(l) AS n_keys,
         |  MAX(l) AS max_load, MIN(l) AS min_load
         |FROM (
         |  SELECT node, COUNT(*) AS l FROM (
         |    SELECT k, node FROM (
         |      SELECT k, node, ROW_NUMBER() OVER (PARTITION BY k
         |        ORDER BY (rh - kh) % 1152921504606846976
         |          + CASE WHEN rh < kh THEN 1152921504606846976 ELSE 0 END,
         |          node) AS rk
         |      FROM keys CROSS JOIN ($ringRows) r)
         |    WHERE rk = 1)
         |  GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH keys AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS k,
       |    CAST(('0x' || substr(md5('k|' || CAST(c_custkey AS VARCHAR)), 1,
       |      15)) AS BIGINT) AS kh
       |  FROM customer),
       |per AS (
       |$branches)
       |SELECT CAST(vnodes AS BIGINT) AS vnodes,
       |  CAST(n_keys AS BIGINT) AS n_keys,
       |  CAST(nodes_hit AS BIGINT) AS nodes_hit,
       |  CAST(max_load AS BIGINT) AS max_load,
       |  CAST(min_load AS BIGINT) AS min_load,
       |  CAST(max_load * $RingNodes * 1000000 // n_keys AS BIGINT)
       |    AS skew_e6
       |FROM per
       |ORDER BY vnodes""".stripMargin
  }

  // ----------------- q560: join-order cost audit (estimate vs actual)

  /** q560: the two left-deep orders of customer ⋈ orders ⋈ lineitem,
    * costed as the sum of intermediate + final cardinalities — first with
    * the Selinger estimates an optimizer would use (q545's formula), then
    * with the true cardinalities. The report shows whether the estimate
    * RANKS the orders correctly (the only thing an optimizer needs it
    * for), which is the join-enumeration story told with data instead of
    * plan dumps.
    */
  val q560JoinOrderCost: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, dir).select(col("c_custkey"))
    val stats = li.agg(count(lit(1)).as("nl"),
      countDistinct(col("l_orderkey")).as("ndv_lo"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("no"),
        countDistinct(col("o_orderkey")).as("ndv_oo"),
        countDistinct(col("o_custkey")).as("ndv_oc"))))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("nc"),
        countDistinct(col("c_custkey")).as("ndv_cc"))))
    val actLO = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("a_lo"))
    val actOC = o.join(c, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("a_oc"))
    val actFinal = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("a_fin"))
    val base = stats.crossJoin(broadcast(actLO))
      .crossJoin(broadcast(actOC)).crossJoin(broadcast(actFinal))
      .withColumn("e_lo", expr("nl * no div greatest(ndv_lo, ndv_oo)"))
      .withColumn("e_oc", expr("no * nc div greatest(ndv_oc, ndv_cc)"))
      .withColumn("e_fin", expr("e_lo * nc div greatest(ndv_oc, ndv_cc)"))
      .localCheckpoint()
    val a = base.select(lit("lineitem_orders_first").as("join_order"),
      col("e_lo").as("inter_est"), col("a_lo").as("inter_actual"),
      col("e_fin"), col("a_fin"),
      (col("e_lo") + col("e_fin")).as("cost_est"),
      (col("a_lo") + col("a_fin")).as("cost_actual"))
    val b = base.select(lit("orders_customer_first").as("join_order"),
      col("e_oc").as("inter_est"), col("a_oc").as("inter_actual"),
      col("e_fin"), col("a_fin"),
      (col("e_oc") + col("e_fin")).as("cost_est"),
      (col("a_oc") + col("a_fin")).as("cost_actual"))
    val both = a.unionAll(b)
    val mins = both.agg(min(col("cost_est")).as("min_e"),
      min(col("cost_actual")).as("min_a"))
    both.crossJoin(broadcast(mins))
      .select(col("join_order"), col("inter_est"), col("inter_actual"),
        col("a_fin").as("final_rows"), col("cost_est"), col("cost_actual"),
        (col("cost_est") === col("min_e")).cast("long").as("est_picks"),
        (col("cost_actual") === col("min_a")).cast("long").as("truth_picks"))
      .orderBy(col("join_order"))
  }

  val q560Sql: String =
    """WITH st AS (
      |  SELECT (SELECT COUNT(*) FROM lineitem) AS nl,
      |    (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS ndv_lo,
      |    (SELECT COUNT(*) FROM orders) AS no,
      |    (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS ndv_oo,
      |    (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS ndv_oc,
      |    (SELECT COUNT(*) FROM customer) AS nc,
      |    (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS ndv_cc,
      |    (SELECT COUNT(*) FROM lineitem JOIN orders
      |      ON l_orderkey = o_orderkey) AS a_lo,
      |    (SELECT COUNT(*) FROM orders JOIN customer
      |      ON o_custkey = c_custkey) AS a_oc,
      |    (SELECT COUNT(*) FROM lineitem JOIN orders
      |      ON l_orderkey = o_orderkey JOIN customer
      |      ON o_custkey = c_custkey) AS a_fin),
      |est AS (
      |  SELECT st.*,
      |    nl * no // GREATEST(ndv_lo, ndv_oo) AS e_lo,
      |    no * nc // GREATEST(ndv_oc, ndv_cc) AS e_oc,
      |    (nl * no // GREATEST(ndv_lo, ndv_oo)) * nc
      |      // GREATEST(ndv_oc, ndv_cc) AS e_fin
      |  FROM st),
      |ords AS (
      |  SELECT 'lineitem_orders_first' AS join_order, e_lo AS inter_est,
      |    a_lo AS inter_actual, e_fin, a_fin,
      |    e_lo + e_fin AS cost_est, a_lo + a_fin AS cost_actual
      |  FROM est
      |  UNION ALL
      |  SELECT 'orders_customer_first', e_oc, a_oc, e_fin, a_fin,
      |    e_oc + e_fin, a_oc + a_fin
      |  FROM est),
      |mins AS (
      |  SELECT MIN(cost_est) AS min_e, MIN(cost_actual) AS min_a
      |  FROM ords)
      |SELECT join_order, CAST(inter_est AS BIGINT) AS inter_est,
      |  CAST(inter_actual AS BIGINT) AS inter_actual,
      |  CAST(a_fin AS BIGINT) AS final_rows,
      |  CAST(cost_est AS BIGINT) AS cost_est,
      |  CAST(cost_actual AS BIGINT) AS cost_actual,
      |  CAST(CASE WHEN cost_est = min_e THEN 1 ELSE 0 END AS BIGINT)
      |    AS est_picks,
      |  CAST(CASE WHEN cost_actual = min_a THEN 1 ELSE 0 END AS BIGINT)
      |    AS truth_picks
      |FROM ords CROSS JOIN mins
      |ORDER BY join_order""".stripMargin

  // ------------- q561: eager-aggregation (group-by pushdown) equivalence

  /** q561: the eager/lazy aggregation transformation, certified on data —
    * brand quantity totals computed BOTH ways: lazy (join lineitem to
    * part, then aggregate — the fact stream crosses the join at full
    * width) and eager (pre-aggregate lineitem by partkey first — only
    * |parts| rows cross). Each brand row carries both totals and their
    * equality flag; the intermediate row counts quantify what the rewrite
    * saves. This is the rewrite [[plans/ViewAdvisor]] and partial
    * aggregation rely on, shipped as a verifiable query instead of a
    * claim.
    */
  val q561EagerAgg: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("qty"))
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
    val lazyAgg = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(sum(col("qty")).as("qty_lazy"))
    val pre = li.groupBy(col("l_partkey")).agg(sum(col("qty")).as("q1"))
    val eagerAgg = pre.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand2")).agg(sum(col("q1")).as("qty_eager"))
    val inter = li.agg(count(lit(1)).as("rows_lazy"))
      .crossJoin(broadcast(pre.agg(count(lit(1)).as("rows_eager"))))
    lazyAgg.join(eagerAgg, col("p_brand") === col("brand2"))
      .crossJoin(broadcast(inter))
      .select(col("p_brand").as("brand"), col("qty_lazy"), col("qty_eager"),
        (col("qty_lazy") === col("qty_eager")).cast("long").as("equal"),
        col("rows_lazy"), col("rows_eager"))
      .orderBy(col("brand"))
  }

  val q561Sql: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(ROUND(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem),
      |lazy AS (
      |  SELECT p_brand, SUM(qty) AS qty_lazy
      |  FROM li JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |pre AS (
      |  SELECT l_partkey, SUM(qty) AS q1 FROM li GROUP BY 1),
      |eager AS (
      |  SELECT p_brand, SUM(q1) AS qty_eager
      |  FROM pre JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |inter AS (
      |  SELECT (SELECT COUNT(*) FROM li) AS rows_lazy,
      |    (SELECT COUNT(*) FROM pre) AS rows_eager)
      |SELECT lazy.p_brand AS brand, CAST(qty_lazy AS BIGINT) AS qty_lazy,
      |  CAST(qty_eager AS BIGINT) AS qty_eager,
      |  CAST(CASE WHEN qty_lazy = qty_eager THEN 1 ELSE 0 END AS BIGINT)
      |    AS equal,
      |  CAST(rows_lazy AS BIGINT) AS rows_lazy,
      |  CAST(rows_eager AS BIGINT) AS rows_eager
      |FROM lazy JOIN eager USING (p_brand) CROSS JOIN inter
      |ORDER BY brand""".stripMargin

  // ----------------- q563: max-min fair share (water-filling) allocation

  /** Capacity as a fraction (e6) of total demand. */
  private val FairCapE6 = 600000L

  /** q563: max-min fairness — the allocation rule behind every multi-tenant
    * resource governor (the reference's WLM shares, YARN/K8s fair
    * schedulers): tenants (nations, demand = revenue cents) below the
    * water level keep their full demand; the rest split what remains
    * equally, with the integer residue handed out deterministically
    * (first-k by demand desc, key asc — the largest-remainder device).
    * The water level comes from the closed form over the demand-sorted
    * prefix sums (tenant i is uncapped iff P_i + d_i·(n−i) ≤ C), so the
    * whole allocation is one sorted window over a tenant-bounded rollup.
    * Conservation (Σ alloc = min(C, Σ demand)) ships in-output.
    */
  val q563FairShare: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // demand = (nationkey+1)-weighted revenue: TPC-H nations are uniform,
    // so the weights create the demand spread that exercises BOTH sides of
    // the water level (small tenants fully served, large ones capped)
    val dem = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nk"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("nk")).agg(sum(cents(col("o_totalprice"))).as("d0"))
      .withColumn("d", col("d0") * (col("nk") + 1L)).drop("d0")
    val tot = dem.agg(sum(col("d")).as("td"), count(lit(1)).as("n"))
      .withColumn("cap", expr(s"CAST(CAST(td AS DECIMAL(38,0)) " +
        s"* $FairCapE6 div 1000000 AS BIGINT)"))
    val w = Window.orderBy(col("d"), col("nk"))
    val ranked = dem.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(w))
      .withColumn("pfx", sum(col("d")).over(
        Window.orderBy(col("d"), col("nk"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("uncapped",
        (col("pfx") + col("d") * (col("n") - col("i")) <= col("cap"))
          .cast("long"))
    val kStats = ranked.agg(sum(col("uncapped")).as("k"),
      sum(when(col("uncapped") === 1, col("d")).otherwise(0L)).as("pk"))
    val alloc = ranked.crossJoin(broadcast(kStats))
      .withColumn("n_capped", col("n") - col("k"))
      .withColumn("base", when(col("n_capped") > 0,
        expr("(cap - pk) div n_capped")).otherwise(lit(0L)))
      .withColumn("resid", when(col("n_capped") > 0,
        expr("(cap - pk) % n_capped")).otherwise(lit(0L)))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("d").desc, col("nk"))))
      .withColumn("alloc_c", when(col("uncapped") === 1, col("d"))
        .otherwise(col("base") +
          (col("rr") <= col("resid")).cast("long")))
    alloc.select(col("nk").cast("long").as("nation"), col("d").as("demand_c"),
      col("alloc_c"), (lit(1L) - col("uncapped")).as("capped"),
      col("cap").as("capacity_c"))
      .withColumn("alloc_total_c",
        sum(col("alloc_c")).over(Window.partitionBy()))
      .orderBy(col("nation"))
  }

  val q563Sql: String =
    s"""WITH dem AS (
       |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
       |    SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
       |      * (CAST(c_nationkey AS BIGINT) + 1) AS d
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1),
       |tot AS (
       |  SELECT SUM(d) AS td, COUNT(*) AS n,
       |    CAST(CAST(SUM(d) AS HUGEINT) * $FairCapE6 // 1000000 AS BIGINT)
       |      AS cap
       |  FROM dem),
       |ranked AS (
       |  SELECT nk, d, n, cap,
       |    ROW_NUMBER() OVER (ORDER BY d, nk) AS i,
       |    SUM(d) OVER (ORDER BY d, nk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx
       |  FROM dem CROSS JOIN tot),
       |flagged AS (
       |  SELECT ranked.*,
       |    CASE WHEN pfx + d * (n - i) <= cap THEN 1 ELSE 0 END AS uncapped
       |  FROM ranked),
       |ks AS (
       |  SELECT SUM(uncapped) AS k,
       |    SUM(CASE WHEN uncapped = 1 THEN d ELSE 0 END) AS pk
       |  FROM flagged),
       |alloc AS (
       |  SELECT f.nk, f.d, f.cap, f.uncapped,
       |    CASE WHEN f.uncapped = 1 THEN f.d
       |      ELSE (f.cap - ks.pk) // (f.n - ks.k)
       |        + CASE WHEN ROW_NUMBER() OVER (ORDER BY f.d DESC, f.nk)
       |          <= (f.cap - ks.pk) % (f.n - ks.k) THEN 1 ELSE 0 END
       |      END AS alloc_c
       |  FROM flagged f CROSS JOIN ks)
       |SELECT nk AS nation, CAST(d AS BIGINT) AS demand_c,
       |  CAST(alloc_c AS BIGINT) AS alloc_c,
       |  CAST(1 - uncapped AS BIGINT) AS capped,
       |  CAST(cap AS BIGINT) AS capacity_c,
       |  CAST(SUM(alloc_c) OVER () AS BIGINT) AS alloc_total_c
       |FROM alloc
       |ORDER BY nation""".stripMargin

  // ----------------------- q564: cohort retention matrix (first-seen day)

  /** Retention offsets (days after first activity). */
  private val RetentionOffsets = Seq(0L, 1L, 3L, 7L, 14L)

  /** q564: the cohort retention triangle — users grouped by first-active
    * day, each cohort's share still active k days later for k ∈
    * {0, 1, 3, 7, 14}. The k = 0 row is the identity (every cohort is
    * fully active on its birth day) and ships as the certificate; the
    * decay down each column is the retention curve a growth dashboard
    * plots. One shuffle to the (user, day) activity rollup; cohorts and
    * offsets are calendar-bounded metadata.
    */
  val q564CohortRetention: Q = (s, dir) => {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .distinct()
      .localCheckpoint()
    val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    val sizes = first.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    val ks = s.range(RetentionOffsets.size.toLong).toDF("i")
      .select(element_at(
        typedLit(RetentionOffsets), col("i").cast("int") + 1).as("k"))
    val active = first.crossJoin(broadcast(ks))
      .join(ud.select(col("user_id").as("u2"), col("day")),
        col("user_id") === col("u2") && col("day") === col("cohort") + col("k"))
      .groupBy(col("cohort").as("cohort2"), col("k").as("k2"))
      .agg(count(lit(1)).as("active"))
    sizes.crossJoin(broadcast(ks))
      .join(active, col("cohort") === col("cohort2") && col("k") === col("k2"),
        "left")
      .select(col("cohort"), col("k"), col("cohort_size"),
        coalesce(col("active"), lit(0L)).as("active"))
      .withColumn("rate_e6", expr("active * 1000000 div cohort_size"))
      .orderBy(col("cohort"), col("k"))
  }

  val q564Sql: String = {
    val kList = RetentionOffsets.mkString(", ")
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id,
       |    CAST(epoch_ms(ts) AS BIGINT) // 86400000 AS day
       |  FROM events),
       |first AS (
       |  SELECT user_id, MIN(day) AS cohort FROM ud GROUP BY 1),
       |sizes AS (
       |  SELECT cohort, COUNT(*) AS cohort_size FROM first GROUP BY 1),
       |ks AS (SELECT UNNEST([$kList]) AS k),
       |active AS (
       |  SELECT f.cohort, ks.k, COUNT(*) AS active
       |  FROM first f CROSS JOIN ks
       |  JOIN ud ON ud.user_id = f.user_id AND ud.day = f.cohort + ks.k
       |  GROUP BY 1, 2)
       |SELECT s.cohort, CAST(ks.k AS BIGINT) AS k,
       |  CAST(s.cohort_size AS BIGINT) AS cohort_size,
       |  CAST(COALESCE(a.active, 0) AS BIGINT) AS active,
       |  CAST(COALESCE(a.active, 0) * 1000000 // s.cohort_size AS BIGINT)
       |    AS rate_e6
       |FROM sizes s CROSS JOIN ks
       |LEFT JOIN active a ON a.cohort = s.cohort AND a.k = ks.k
       |ORDER BY s.cohort, k""".stripMargin
  }

  // ------------------------------------------------------------- registry

  def queries: Map[String, Q] = Map(
    "q564_cohort_retention" -> q564CohortRetention,
    "q563_fair_share" -> q563FairShare,
    "q560_join_order_cost" -> q560JoinOrderCost,
    "q561_eager_agg" -> q561EagerAgg,
    "q557_rendezvous_rebalance" -> q557RendezvousRebalance,
    "q558_ring_balance" -> q558RingBalance,
    "q545_join_card_estimate" -> q545JoinCardEstimate,
    "q546_selectivity_hist" -> q546SelectivityHist,
    "q547_fd_discovery" -> q547FdDiscovery,
    "q548_distribution_advisor" -> q548DistributionAdvisor)

  def oracles: Map[String, String] = Map(
    "q564_cohort_retention" -> q564Sql,
    "q563_fair_share" -> q563Sql,
    "q560_join_order_cost" -> q560Sql,
    "q561_eager_agg" -> q561Sql,
    "q557_rendezvous_rebalance" -> q557Sql,
    "q558_ring_balance" -> q558Sql,
    "q545_join_card_estimate" -> q545Sql,
    "q546_selectivity_hist" -> q546Sql,
    "q547_fd_discovery" -> q547Sql,
    "q548_distribution_advisor" -> q548Sql)
}
