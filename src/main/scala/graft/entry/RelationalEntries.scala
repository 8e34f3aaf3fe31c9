package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PairSurface
import graft.ext.{Graph, Relational}
import EntryUtil._

/**
 * Driver-contract queries for the relational star-schema operators
 * ([[graft.ext.Relational]]) over the warehouse tables. Money sums are
 * rounded to cents on BOTH sides ([[EntryUtil.r2]]) — at fact-table row
 * counts their cross-engine sum-order noise reaches the 1e-6 grid the
 * other contracts round on; per-order and per-mean values stay on the
 * standard 1e-6 gate.
 */
object RelationalEntries {

  /** Pricing-summary ship-date cutoff (keeps ~80% of lineitems). */
  private val PricingCutoff = "2000-01-01"

  /** Q3-shape contract: segment, order/ship cutoff, top-k kept. */
  private val Segment = "BUILDING"
  private val SegmentCutoff = "1998-01-01"
  private val TopOrders = 10

  /** Q5-shape contract: one shipped year. */
  private val RevFrom = "1996-01-01"
  private val RevUntil = "1997-01-01"

  /** Profiled columns (longs + strings only: their min/max render
    * identically as text in both engines; see tableProfile's caveat). */
  private val ProfileCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ext: TPC-H Q1 shape — single-shuffle fact rollup, pushed-down cutoff
    "rel_pricing_summary" -> ((s, dir) =>
      gate(Relational.pricingSummary(Relational.lineitem(s, dir), PricingCutoff)
        .withColumn("sum_base_price", r2(col("sum_base_price")))
        .withColumn("sum_disc_price", r2(col("sum_disc_price")))
        .withColumn("sum_charge", r2(col("sum_charge"))),
        "l_returnflag", "l_linestatus")),
    // ext: TPC-H Q3 shape — broadcast segment dim, orderkey fact join, top-k
    "rel_top_orders" -> ((s, dir) =>
      gate(Relational.segmentTopOrders(Relational.customer(s, dir),
          Relational.orders(s, dir), Relational.lineitem(s, dir),
          Segment, SegmentCutoff, TopOrders)
        .withColumn("o_orderdate",
          expr("unix_micros(cast(o_orderdate as timestamp))"))
        .withColumnRenamed("o_orderdate", "orderdate_us"), "o_orderkey")),
    // ext: TPC-H Q5 shape — supplier→nation→region broadcast chain rollup
    "rel_region_revenue" -> ((s, dir) =>
      gate(Relational.regionRevenue(Relational.lineitem(s, dir),
          Relational.supplier(s, dir), Relational.nation(s, dir),
          Relational.region(s, dir), RevFrom, RevUntil)
        .withColumn("revenue", r2(col("revenue"))), "r_name", "n_name")),
    // ext: per-column profile audit (counts, distincts, min/max as text)
    "rel_table_profile" -> ((s, dir) =>
      gate(Relational.tableProfile(Relational.orders(s, dir), ProfileCols),
        "col_name")),
    // ext: TPC-H Q10 shape — returned-item revenue per customer, exact
    // int64 money units rank the top-k bit-deterministically
    "rel_top_customers" -> ((s, dir) =>
      gate(Relational.returnedTopCustomers(Relational.customer(s, dir),
        Relational.orders(s, dir), Relational.lineitem(s, dir),
        Relational.nation(s, dir), RetFrom, RetUntil, TopCustomers),
        "o_custkey")),
    // ext: window-over-aggregate shape — monthly revenue + running
    // cumulative, all-integer money (exact in any engine at any scale)
    "rel_monthly_running" -> ((s, dir) =>
      gate(Relational.monthlyRevenueRunning(Relational.lineitem(s, dir)),
        "yr", "mo")),
    // ext: argmin-per-group shape (Q2-style min-cost supplier; unit
    // price from observed lineitems — no partsupp table in this corpus)
    "rel_cheapest_supplier" -> ((s, dir) =>
      gate(Relational.cheapestSupplierPerPart(Relational.lineitem(s, dir),
        VolFrom, VolUntil), "l_partkey")),
    // ext: TPC-H Q4 shape — EXISTS late-lineitem check per priority,
    // planned as a semi-join with the date residual riding the key
    "rel_order_priority" -> ((s, dir) =>
      gate(Relational.latePriorityOrders(Relational.orders(s, dir),
        Relational.lineitem(s, dir)), "o_orderpriority")),
    // ext: TPC-H Q7 shape — bilateral nation shipping volume, both fact
    // inputs nation-filtered through broadcast dims before the join
    "rel_nation_volume" -> ((s, dir) =>
      gate(Relational.nationVolumeShipping(Relational.lineitem(s, dir),
        Relational.orders(s, dir), Relational.customer(s, dir),
        Relational.supplier(s, dir), Relational.nation(s, dir),
        VolNationA, VolNationB, VolFrom, VolUntil),
        "supp_nation", "cust_nation", "l_year")),
    // ext: TPC-H Q14 shape — promo revenue share per month; the share is
    // one division of two exact int64 sums, bit-identical in any engine
    "rel_promo_share" -> ((s, dir) =>
      gate(Relational.promoRevenueShare(Relational.lineitem(s, dir),
        Relational.part(s, dir), PromoPrefix, VolFrom, VolUntil), "yr", "mo")),
    // ext: ROLLUP grouping-sets shape — leaf/subtotal/grand-total revenue
    // in one pass; lvl carries the grouping_id bits (identical convention
    // in Spark and DuckDB, verified), group keys coalesced so the result
    // totally orders on strings with no NULL-ordering dependence
    "rel_rollup_revenue" -> ((s, dir) =>
      gate(Relational.regionRevenueRollup(Relational.lineitem(s, dir),
          Relational.supplier(s, dir), Relational.nation(s, dir),
          Relational.region(s, dir), RevFrom, RevUntil)
        .withColumn("lvl", col("lvl").cast("long")), "r_name", "n_name")),
    // ext: native CUBE (Expand) — all four grouping levels in one scan
    // + one exchange; the measured counterpart to rel_rollup_revenue's
    // manual re-aggregation
    "rel_cube_revenue" -> ((s, dir) =>
      gate(Relational.revenueCube(Relational.lineitem(s, dir),
        RevFrom, RevUntil), "returnflag", "linestatus")),
    // ext: TPC-H Q19 shape — disjunctive brand/size/quantity clauses;
    // part-only conjuncts pushed into the dim scan before the broadcast
    "rel_disjunctive_revenue" -> ((s, dir) =>
      gate(Relational.disjunctiveRevenue(Relational.lineitem(s, dir),
        Relational.part(s, dir), Q19Clauses), "revenue_e4")),
    // ext: TPC-H Q22 shape — above-average balance, no recent order
    // (scalar-broadcast average + anti-join on the date-filtered scan)
    "rel_dormant_customers" -> ((s, dir) =>
      gate(Relational.dormantHighValueCustomers(Relational.customer(s, dir),
        Relational.orders(s, dir), DormantCutoff), "nationkey")),
    // ext: TPC-H Q12 shape — fact-to-fact orderkey join with the
    // two-way priority split as a CASE inside one aggregate
    "rel_priority_lines" -> ((s, dir) =>
      gate(Relational.priorityLineBreakdown(Relational.orders(s, dir),
        Relational.lineitem(s, dir), VolFrom, VolUntil), "l_returnflag")),
    // ext: TPC-H Q13 shape — per-customer order count including the
    // zero-order tail, cascaded into the count-of-counts histogram
    "rel_custdist" -> ((s, dir) =>
      gate(Relational.customerOrderDistribution(Relational.customer(s, dir),
        Relational.orders(s, dir)), "c_count")),
    // ext: TPC-H Q17 shape — below-average-quantity revenue; the
    // threshold compares exact int64 cross-products, never noisy sums
    "rel_small_qty" -> ((s, dir) =>
      gate(Relational.smallQuantityRevenue(Relational.lineitem(s, dir),
        Relational.part(s, dir), SmallQtyBrand, SmallQtySizeLo,
        SmallQtySizeHi), "rev_e4")),
    // ext: TPC-H Q18 shape — having-filtered order rollup, skinny
    // survivor set broadcast back onto its decorating joins
    "rel_large_orders" -> ((s, dir) =>
      gate(Relational.largeVolumeOrders(Relational.customer(s, dir),
          Relational.orders(s, dir), Relational.lineitem(s, dir), LargeQtyMin)
        .withColumn("o_orderdate",
          expr("unix_micros(cast(o_orderdate as timestamp))"))
        .withColumnRenamed("o_orderdate", "orderdate_us"), "o_orderkey")),
    // ext: TPC-H Q6 shape — all predicates at the scan, 1-row aggregate
    "rel_discount_revenue" -> ((s, dir) =>
      gate(Relational.discountRevenue(Relational.lineitem(s, dir),
        VolFrom, VolUntil, DiscLo, DiscHi, DiscQtyMax), "revenue_e6")),
    // ext: TPC-H Q15 shape — supplier revenue view + ALL-argmax rank
    "rel_top_supplier" -> ((s, dir) =>
      gate(Relational.topRevenueSupplier(Relational.lineitem(s, dir),
        VolFrom, VolUntil), "l_suppkey")),
    // ext: the SAME fact join under two physical layouts — bucketed
    // co-located (zero join exchanges) vs plain shuffled; bench
    // shuffle-bytes shows the trade, the oracle pins identical results
    "rel_join_bucketed" -> ((s, dir) =>
      gate(Relational.bucketedOrderRevenue(s, dir), "o_orderstatus")),
    "rel_join_shuffled" -> ((s, dir) =>
      gate(Relational.shuffledOrderRevenue(s, dir), "o_orderstatus")),
    // ext: TPC-H Q21 shape — sole-blame late suppliers on multi-supplier
    // orders, planned as cascaded aggregates instead of EXISTS/NOT EXISTS
    "rel_waiting_suppliers" -> ((s, dir) =>
      gate(Relational.soleLateSuppliers(Relational.orders(s, dir),
        Relational.lineitem(s, dir)), "l_suppkey")),
    // ext: TPC-H Q8 shape — one region's market via the customer geo
    // chain, the supplier nation riding the fact scan as a boolean flag,
    // share = one division of exact int64 sums per year
    "rel_market_share" -> ((s, dir) =>
      gate(Relational.marketShare(Relational.lineitem(s, dir),
        Relational.orders(s, dir), Relational.customer(s, dir),
        Relational.supplier(s, dir), Relational.nation(s, dir),
        Relational.region(s, dir), ShareRegion, ShareNation,
        VolFrom, VolUntil), "o_year")),
    // ext: TPC-H Q9 shape — product profit by (supplier nation, year)
    // for name-matched parts; supply cost = 0.6·retail·qty proxy (no
    // partsupp in this schema), per-row e4 floors so the sum is exact
    "rel_product_profit" -> ((s, dir) =>
      gate(Relational.productProfit(Relational.lineitem(s, dir),
        Relational.orders(s, dir), Relational.supplier(s, dir),
        Relational.nation(s, dir), Relational.part(s, dir),
        ProfitNamePart), "nation", "o_year")),
    // ext: TPC-H Q11 shape — one nation's important stock per part;
    // broadcast nation-supplier slice prunes the fact scan, 1-row total
    // re-broadcast, integer threshold compare (value·denom > total)
    "rel_nation_stock" -> ((s, dir) =>
      gate(Relational.nationStockShare(Relational.lineitem(s, dir),
        Relational.supplier(s, dir), Relational.nation(s, dir),
        Relational.part(s, dir), StockNation, StockDenom), "l_partkey")),
    // ext: TPC-H Q16 shape — distinct suppliers per (brand, type, size)
    // class; broadcast part slice + anti-joined complaint suppliers,
    // DISTINCT pairs collapse before the class-level count
    "rel_supplier_diversity" -> ((s, dir) =>
      gate(Relational.supplierDiversity(Relational.lineitem(s, dir),
        Relational.part(s, dir), Relational.supplier(s, dir),
        DivBrand, DivType, DivSizes), "p_brand", "p_type", "p_size")),
    // ext: TPC-H Q20 shape — suppliers shipping > total/denom of a
    // name-matched part's year quantity; (part, supplier) rollup →
    // per-part total → result-sized join back, integer dominance compare
    "rel_dominant_shippers" -> ((s, dir) =>
      gate(Relational.dominantShippers(Relational.lineitem(s, dir),
        Relational.part(s, dir), Relational.supplier(s, dir),
        Relational.nation(s, dir), ProfitNamePart, RevFrom, RevUntil,
        DomDenom), "l_suppkey")),
    // ext: triangle counts over the co-ordered-parts graph (parts
    // sharing an order are adjacent); degree-ordered node-iterator —
    // exact integer counts, all equi-joins
    "graph_triangles" -> ((s, dir) =>
      gate(Graph.triangleCounts(coOrderedPartEdges(s, dir)), "node")),
    // ext: market-basket rules — support/confidence/lift for directed
    // co-ordered part pairs above min support; exact int64 counts, the
    // canonical order-keyed pair join, result-sized support joins.
    // maxBasket is part of the contract (r8 ask #2): the cap is far
    // above the TPC-H basket tail (≤ 7 parts), so it prunes nothing
    // here — the planted twins below prove it prunes the right thing
    "rel_basket_rules" -> ((s, dir) =>
      gate(Relational.basketRules(Relational.lineitem(s, dir),
        BasketMinSupport, BasketMaxItems), "ante", "cons")),
    // the PLANTED MEGA-BASKET twins (VERDICT r8 ask #2, the
    // aligned_pairs_skew pattern): one synthetic order (key −1) holding
    // EVERY distinct part — C(|parts|, 2) pair rows through one task
    // before min-support sees anything, the bot-cart regime the cap
    // exists for. The uncapped twin carries the quadratic mass (its own
    // oracle mirrors the planted order's +1 on every pair support); the
    // capped twin drops the mega-basket and must reproduce the base
    // query's rows EXACTLY (shared oracle — the cap removes the planted
    // order and nothing else). Bench times them side by side.
    "rel_basket_rules_skew" -> ((s, dir) =>
      gate(Relational.basketRules(megaBasketLineitem(s, dir),
        BasketMinSupport, BasketNoCap), "ante", "cons")),
    "rel_basket_rules_skew_capped" -> ((s, dir) =>
      gate(Relational.basketRules(megaBasketLineitem(s, dir),
        BasketMinSupport, BasketMaxItems), "ante", "cons")),
    // ext: RFM customer segmentation — recency/frequency/monetary
    // tercile scores from histogram-sketch thresholds (no global sort),
    // exact int64 metrics and boundary compares
    "rel_rfm_segments" -> ((s, dir) =>
      gate(Relational.rfmSegments(Relational.orders(s, dir),
        pin = _.localCheckpoint()), "o_custkey")),
    // ext: 1-row structural profile of the same graph — degree moments
    // + Newman assortativity; exact int64 sums, double-only final ratio
    "graph_degree_stats" -> ((s, dir) =>
      gate(Graph.degreeStats(coOrderedPartEdges(s, dir)), "n_nodes")),
    // THE TRIANGLE KERNEL ROUTER: "exact wedge join or sampled
    // estimate" answered from the measured wedge surface — the
    // dedup_auto / cosine_auto / ann_auto pattern applied to the fourth
    // quadratic-prone family, aimed straight at the measured 100×
    // wedge-shuffle disk wall (43.66 GB written). One decision row per
    // regime, the CHOICE flipping across them: the organic co-ordered
    // graph's wedges/edge ratio is scale-constant (measured 26–34
    // across three decades), so the 128/edge budget routes `exact` at
    // any scale; a planted 1200-node clique (disjoint synthetic ids —
    // the template/bot-cart analogue for graphs) carries a CONSTANT
    // ~2.9e8 wedge mass that blows the budget → `colorful` with the
    // measured ⌈√(wedges/budget)⌉ color count — and, because the budget
    // is edge-linear, a fixed clique inside a growing organic graph
    // re-flips to exact once affordable (the flip IS the router
    // working); the tight-budget twin prices the same organic surface
    // against a 4/edge budget, showing the color ladder track the
    // affordability gap. Decision-only rows (the dedup_auto shape):
    // probes are one edge-linear orient + out-degree aggregate each.
    "graph_triangles_auto" -> ((s, dir) => {
      val org = coOrderedPartEdges(s, dir)
      val headed = org.unionByName(plantedCliqueEdges(s))
      gate(Seq(
        ("organic", Graph.triangleRoute(org, TriBudgetPerEdge)),
        ("headed", Graph.triangleRoute(headed, TriBudgetPerEdge)),
        ("tight", Graph.triangleRoute(org, TriBudgetTight)))
        .map { case (n, df) => df.select(lit(n).as("regime"), col("*")) }
        .reduce(_ unionByName _), "regime")
    }),
    // ext: the routed sampled kernel itself, measured — Pagh &
    // Tsourakakis colorful counting at a fixed 4 colors over the same
    // organic graph Bench times the exact kernel on: monochromatic
    // edges only, so the wedge shuffle (THE measured disk wall at 100×)
    // carries ~1/16 of the exact kernel's bytes while the estimate
    // stays a deterministic pure function of the graph (int64 hash
    // colors, oracle-replayed bit for bit)
    "graph_triangles_colorful" -> ((s, dir) =>
      gate(Graph.colorfulTriangleTotal(coOrderedPartEdges(s, dir),
        TriColors), "n_colors")),
    // ext: fixed-round k-core peeling on the same co-ordered-parts
    // graph — per round two survivor semi-joins + one degree aggregate;
    // exact integer degrees, monotone shrink
    "graph_kcore" -> ((s, dir) =>
      gate(Graph.kCoreAlive(coOrderedPartEdges(s, dir), KCoreK, KCoreRounds),
        "node")),
    // ext: the TRUE k-core — the same peel driven to its fixed point
    // with a measured per-round survivor count deciding the stop
    // (Graph.kCoreFixpoint); the oracle unrolls the full round
    // budget, safe because post-fixpoint rounds are identity
    "graph_kcore_fixpoint" -> ((s, dir) =>
      gate(Graph.kCoreFixpoint(coOrderedPartEdges(s, dir), KCoreK,
        GraphMaxRounds).core, "node")),
    // ext: fixed-round label-propagation communities on the same
    // co-ordered-parts graph — plurality neighbor label, min-label
    // ties, self-loop vote (Graph.labelPropagation); splits the graph
    // along its dense regions where CC merges everything that touches
    "graph_lpa" -> ((s, dir) =>
      gate(Graph.labelPropagation(coOrderedPartEdges(s, dir), LpaRounds), "node")),
    // ext: LPA run to its zero-change round (Graph
    // .labelPropagationConverged) — the stop is measured per round;
    // the oracle unrolls the full budget, safe because a zero-change
    // round is a fixed point of the synchronous update
    "graph_lpa_converged" -> ((s, dir) =>
      gate(Graph.labelPropagationConverged(coOrderedPartEdges(s, dir),
        GraphMaxRounds).labels, "node")),
    // ext: PageRank over the symmetrized customer↔supplier order graph
    // (prefixed string ids keep the two key spaces disjoint); fixed
    // 5-round power iteration, rank snapped only at the gate
    "graph_pagerank" -> ((s, dir) => {
      val e0 = orderGraph(s, dir, weighted = true)
      val edges = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      gate(Graph.pageRank(edges, PrIters, PrDamping), "node")
    }),
    // ext: PageRank over the DIRECTED customer→supplier graph — every
    // supplier is a genuine sink, so this exercises the dangling-mass
    // redistribution (Σrank stays exactly 1; spec-pinned). Same 5-round
    // power iteration, one extra 1-row scalar broadcast per round.
    "graph_pagerank_dangling" -> ((s, dir) =>
      gate(Graph.pageRankDangling(orderGraph(s, dir, weighted = true),
        PrIters, PrDamping), "node")),
    // ext: personalized PageRank from a trusted seed set (every 100th
    // customer) over the DIRECTED graph — teleport AND dangling mass
    // return to the seeds, so rank decays with distance from them
    "graph_ppr" -> ((s, dir) => {
      val edges = orderGraph(s, dir, weighted = true)
      val seeds = Relational.orders(s, dir).select(col("o_custkey")).distinct()
        .where(pmod(col("o_custkey"), lit(PprSeedMod)) === 0)
        .select(concat(lit("c"), col("o_custkey")).as("node"))
      gate(Graph.personalizedPageRank(edges, seeds, PrIters, PrDamping), "node")
    }),
    // ext: HITS hubs/authorities over the DIRECTED customer→supplier
    // graph (customers are pure hubs, suppliers pure authorities —
    // the bipartite case where HITS and PageRank genuinely differ);
    // L1-normalized per half-round so each table sums to exactly 1
    "graph_hits" -> ((s, dir) =>
      gate(Graph.hits(orderGraph(s, dir, weighted = false), HitsIters), "node")),
    // ext: resource-allocation link prediction on the co-ordered-parts
    // graph — non-edge pairs scored Σ 1/deg(w) over shared neighbors
    // (division-only, so the score replays exactly in any engine);
    // hub through-nodes capped at LinkMaxDeg (the df-cap analogue,
    // principled here: dropped hubs carry ≤ 1/maxDeg signal per pair)
    "graph_linkpred" -> ((s, dir) =>
      gate(Graph.linkPredict(coOrderedPartEdges(s, dir), LinkMinCommon, LinkMaxDeg), "u", "v"))
  )

  /** PageRank contract: rounds and damping factor. */
  private val PrIters = 5
  private val PrDamping = 0.85

  /** HITS contract: fixed power-iteration rounds. */
  private val HitsIters = 5

  /** PPR contract: every `PprSeedMod`-th customer is a trusted seed. */
  private val PprSeedMod = 100

  /** Q19-shape contract clauses (calibrated non-empty at sf0.01). */
  private val Q19Clauses = Seq(
    Relational.PartQtyClause("Brand#1", 1, 15, 5.0, 25.0),
    Relational.PartQtyClause("Brand#2", 10, 30, 10.0, 40.0),
    Relational.PartQtyClause("Brand#3", 20, 50, 20.0, 50.0))

  /** Q22-shape contract: dormancy cutoff (55 survivors at sf0.01). */
  private val DormantCutoff = "2000-01-01"

  /** Q14-shape contract: the corpus's promo p_type prefix. */
  private val PromoPrefix = "PROMO"

  /** Q7-shape contract: two nations, two shipped years. */
  private val VolNationA = "NATION_3"
  private val VolNationB = "NATION_7"
  private val VolFrom = "1995-01-01"
  private val VolUntil = "1997-01-01"

  /** Q10-shape contract: one year of orders, top-20 customers. */
  private val RetFrom = "1995-01-01"
  private val RetUntil = "1996-01-01"
  private val TopCustomers = 20

  /** Q17-shape contract: brand + size band (110 lines below the 1/5
    * average-quantity threshold at sf0.01). */
  private val SmallQtyBrand = "Brand#4"
  private val SmallQtySizeLo = 1
  private val SmallQtySizeHi = 25

  /** Q18-shape contract: total-quantity floor (46 orders at sf0.01). */
  private val LargeQtyMin = 300L

  /** Q8-shape contract: the region whose market is measured and the
    * supplier nation whose share is reported. */
  private val ShareRegion = "EUROPE"
  private val ShareNation = "NATION_3"

  /** Q9-shape contract: the part-name substring (257 of 2000 parts at
    * sf0.01 — the slice is real but dimension-small). */
  private val ProfitNamePart = "red"

  /** Q6-shape contract: discount band and quantity cutoff (2490
    * lineitems at sf0.01). Stored discounts sit on an exact 2-decimal
    * grid, so the band compare and the 1e-6-unit money floor are both
    * engine-exact. */
  private val DiscLo = 0.05
  private val DiscHi = 0.07
  private val DiscQtyMax = 24.0

  /** Q11-shape contract: the nation whose stock is profiled and the
    * importance threshold (value > total/denom — 53 parts at sf0.01). */
  private val StockNation = "NATION_3"
  private val StockDenom = 500L

  /** Q16-shape contract: excluded brand/type and the size list (178
    * (brand, type, size) classes at sf0.01). */
  private val DivBrand = "Brand#1"
  private val DivType = "PROMO"
  private val DivSizes = Seq(1, 4, 9, 16, 25, 36, 49)

  /** Q20-shape contract: dominance threshold (qty > total/denom over
    * the [[ProfitNamePart]]-matched parts in the [[RevFrom]] year — 53
    * dominant suppliers at sf0.01). */
  private val DomDenom = 2L

  /** Minimum pair support of the basket-rules contract (≥3 shared
    * orders keeps the rule table result-sized at both gate sfs). */
  private val BasketMinSupport = 3L

  /** Basket-size cap of the rel_basket_rules contract — far above the
    * TPC-H basket tail (≤ 7 distinct parts per order), so the base
    * query keeps every order; the planted mega-basket (all parts in
    * one order) sits far above it. */
  private val BasketMaxItems = 100L

  /** Effectively-uncapped setting for the skew twin: keeps the planted
    * mega-basket so Bench can measure the C(basket, 2) blowup the cap
    * removes. */
  private val BasketNoCap = 10000000L

  /** The planted mega-basket fixture: lineitem plus one synthetic order
    * (key −1, below every real key) containing every distinct part. */
  private def megaBasketLineitem(s: SparkSession, dir: String): DataFrame = {
    val li = Relational.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    li.unionByName(li.select(col("l_partkey")).distinct()
      .select(lit(-1L).as("l_orderkey"), col("l_partkey")))
  }

  /** k-core contract: threshold and peel rounds chosen so the cascade
    * genuinely removes nodes across MULTIPLE rounds at both gate scale
    * factors (sf0.001: 200 → 185 → 177 → 169; sf0.01: 2000 → 1972 →
    * 1971 → 1971) — a k where round 1 already reaches the fixed point
    * would not test the peeling at all. */
  private val KCoreK = 70
  private val KCoreRounds = 3

  /** Round budget of the CONVERGED graph contracts (kcore fixpoint, LPA
    * zero-change): comfortably above the measured depth at the gate sf
    * (kcore70 fixpoint takes 8 rounds at sf0.001 / 3 at sf0.01; LPA
    * zero-change takes 4 / 6) — the oracle unrolls this many rounds and
    * post-convergence rounds are identity on both sides. */
  private val GraphMaxRounds = 12

  /** Label-propagation community rounds (fixed — the pageRank/kcore
    * pure-function convention). */
  private val LpaRounds = 3

  /** Triangle-router contract: the organic co-ordered-parts graph
    * holds a scale-CONSTANT wedges/edge ratio (measured 26.3 / 33.4 /
    * 34.4 at sf0.001/0.01/0.1), so 128 wedges/edge routes `exact` at
    * every scale with ~4× margin, while 4/edge forces the sampled
    * kernel on the same surface (n_colors = 3 at every measured sf). */
  private val TriBudgetPerEdge = 128L
  private val TriBudgetTight = 4L

  /** The planted dense block: a [[TriCliqueK]]-node clique on synthetic
    * ids starting at [[TriCliqueBase]] (disjoint from every real
    * partkey at any scale — sfx10 partkeys top out near 1e9). Its wedge
    * mass is constant C(k, 3) ≈ 2.87e8 ≥ 128·C(k, 2) ≈ 9.2e7, so the
    * headed regime routes `colorful` at the gate scales — and, the
    * budget being edge-linear, correctly re-flips to exact once the
    * organic graph outgrows it (~12.7M edges, between sfx0.1 and sfx1). */
  private val TriCliqueK = 1200
  private val TriCliqueBase = 2000000000L

  /** Fixed color count of the measured sampled kernel (wedge shuffle
    * ÷ n² = 16 vs the exact kernel on the same graph). */
  private val TriColors = 4

  /** The customer→supplier order graph the ranking contract rows share:
    * one (src, dst) row per line item, customer and supplier ids
    * prefixed ("c", "s") so the two key spaces stay disjoint; `weighted`
    * collapses it to one row per pair with the line count as `weight`. */
  private def orderGraph(s: SparkSession, dir: String, weighted: Boolean): DataFrame = {
    val ord = Relational.orders(s, dir).select("o_orderkey", "o_custkey")
    val li = Relational.lineitem(s, dir).select("l_orderkey", "l_suppkey")
    val lines = li.join(ord, col("l_orderkey") === col("o_orderkey"))
    val ends = Seq(concat(lit("c"), col("o_custkey")).as("src"),
      concat(lit("s"), col("l_suppkey")).as("dst"))
    if (weighted) lines.groupBy(ends: _*).agg(count(lit(1)).as("weight"))
    else lines.select(ends: _*)
  }

  /** The co-ordered-parts undirected graph every graph_* contract row
    * shares: parts are adjacent iff some order contains both. */
  private def coOrderedPartEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Relational.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    PairSurface.pairs(li, Seq("ok"), "p")
      .select(col("a.p").as("src"), col("b.p").as("dst"))
  }

  /** All C(k, 2) clique edges decoded row-locally from one range scan
    * (id → (i, j) via div/mod, i < j kept) — no inequality join, no
    * cartesian; the DuckDB twin spells the identical arithmetic. */
  private def plantedCliqueEdges(s: SparkSession): DataFrame =
    s.range(TriCliqueK.toLong * TriCliqueK).toDF("id")
      .select(expr(s"id div $TriCliqueK").as("i"),
        (col("id") % TriCliqueK).as("j"))
      .where(col("i") < col("j"))
      .select((lit(TriCliqueBase) + col("i")).as("src"),
        (lit(TriCliqueBase) + col("j")).as("dst"))

  /** Link-prediction contract: noise floor on shared neighbors, and the
    * through-node degree cap (measured sf0.01/sf0.1 part degrees run
    * ~115 median / ~220 max, so 96 keeps the informative sub-hub tail
    * while bounding wedge generation at C(96,2) per through-node). */
  private val LinkMinCommon = 3
  private val LinkMaxDeg = 96

  /** Shared oracle of the bucketed/shuffled layout pair. */
  private val JoinRevenueSql =
    """SELECT o.o_orderstatus,
      |  CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
      |  CAST(COUNT(*) AS BIGINT) AS n_items
      |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** `nRounds` unrolled k-core peel rounds over the co-ordered-parts
    * graph — shared by the fixed-round contract and the fixpoint twin
    * (post-fixpoint rounds are identity, so a deeper unroll is safe). */
  private def kcoreOracle(nRounds: Int): String = {
    val rounds = (1 to nRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT e.u AS node FROM e
         |    JOIN a${i - 1} x ON x.node = e.u JOIN a${i - 1} y ON y.node = e.v
         |    UNION ALL
         |    SELECT e.v FROM e
         |    JOIN a${i - 1} x ON x.node = e.u JOIN a${i - 1} y ON y.node = e.v)
         |  GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey),
      |a0 AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v FROM e),
      |$rounds
      |SELECT node, deg FROM d$nRounds WHERE deg >= $KCoreK
      |ORDER BY node""".stripMargin
  }

  /** `nRounds` unrolled plurality-vote LPA rounds — shared by the
    * fixed-round contract and the converged twin (a zero-change round
    * is a fixed point, so a deeper unroll is safe). */
  private def lpaOracle(nRounds: Int): String = {
    val rounds = (1 to nRounds).map { i =>
      s"""v$i AS (SELECT ed.u, l.label AS nl, COUNT(*) AS c
         |        FROM ed JOIN l${i - 1} l ON l.node = ed.v GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT u AS node, nl AS label FROM
         |  (SELECT u, nl, row_number() OVER (PARTITION BY u
         |          ORDER BY c DESC, nl) AS rn FROM v$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey),
      |nd AS MATERIALIZED (SELECT u AS node FROM c UNION SELECT v FROM c),
      |ed AS MATERIALIZED (
      |  SELECT u, v FROM c UNION ALL SELECT v AS u, u AS v FROM c
      |  UNION ALL SELECT node AS u, node AS v FROM nd),
      |l0 AS MATERIALIZED (SELECT node, node AS label FROM nd),
      |$rounds
      |SELECT node, CAST(label AS BIGINT) AS label
      |FROM l$nRounds ORDER BY node""".stripMargin
  }

  /** Per-graph triangle-route CTE block over an edge CTE `g` holding
    * canonical (u < v) rows: degree table, the degree-oriented
    * out-degree aggregate, and the 1-row surface — mirrors
    * [[graft.ext.Graph.triangleRoute]]'s derivation exactly. */
  private def triRouteCtes(g: String): String =
    s"""deg_$g AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
       |    SELECT u AS node FROM $g UNION ALL SELECT v FROM $g) GROUP BY 1),
       |od_$g AS (SELECT a, COUNT(*) AS d FROM (
       |    SELECT CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND $g.u < $g.v)
       |                THEN $g.u ELSE $g.v END AS a
       |    FROM $g JOIN deg_$g x ON x.node = $g.u
       |            JOIN deg_$g y ON y.node = $g.v) GROUP BY 1),
       |r_$g AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg_$g) AS n_nodes,
       |                (SELECT CAST(COUNT(*) AS BIGINT) FROM $g) AS n_edges,
       |                CAST(COALESCE(SUM((d * (d - 1)) // 2), 0) AS BIGINT) AS wedges
       |         FROM od_$g)""".stripMargin

  /** One decision row off a [[triRouteCtes]] surface at `budget`
    * wedges/edge — the integer ladder [[graft.ext.Graph.triangleRoute]]
    * spells, replayed verbatim (same IEEE divide/√/ceil chain). */
  private def triRouteSelect(g: String, budget: Long, regime: String): String =
    s"""SELECT '$regime' AS regime, n_nodes, n_edges, wedges,
       |  CAST(n_edges * $budget AS BIGINT) AS budget_wedges,
       |  CASE WHEN wedges <= n_edges * $budget THEN CAST(1 AS BIGINT)
       |       ELSE CAST(ceil(sqrt(wedges / CAST(n_edges * $budget AS DOUBLE))) AS BIGINT)
       |  END AS n_colors,
       |  CASE WHEN wedges <= n_edges * $budget THEN 'exact'
       |       ELSE 'colorful' END AS kernel
       |FROM r_$g""".stripMargin

  /** The mega-basket fixture's (order, part) source rows, mirroring
    * [[megaBasketLineitem]]. */
  private val megaBasketSql: String =
    """SELECT l_orderkey AS ok0, l_partkey AS p0 FROM lineitem
      |       UNION ALL SELECT DISTINCT CAST(-1 AS BIGINT), l_partkey FROM lineitem""".stripMargin

  /** The basket-rules oracle chain over a (ok0, p0) source query, with
    * the basket-size cap mirrored as a HAVING semi-join — shared by the
    * base contract query and both planted-skew twins. */
  private def basketRulesOracle(src: String, cap: Long): String =
    s"""WITH op0 AS MATERIALIZED (SELECT DISTINCT ok0 AS ok, p0 AS p FROM ($src)),
      |bs AS MATERIALIZED (SELECT ok FROM op0 GROUP BY ok HAVING COUNT(*) <= $cap),
      |op AS MATERIALIZED (SELECT op0.ok, op0.p FROM op0 JOIN bs USING (ok)),
      |item AS MATERIALIZED (SELECT p, CAST(COUNT(*) AS BIGINT) AS sup FROM op GROUP BY 1),
      |no AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM op),
      |pr AS MATERIALIZED (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS sup_ab
      |      FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
      |      GROUP BY 1, 2 HAVING COUNT(*) >= $BasketMinSupport),
      |dr AS (SELECT pa AS ante, pb AS cons, sup_ab FROM pr
      |       UNION ALL SELECT pb, pa, sup_ab FROM pr)
      |SELECT dr.ante, dr.cons, dr.sup_ab,
      |       ia.sup AS sup_a, ic.sup AS sup_c,
      |       ${r6sql("dr.sup_ab / CAST(ia.sup AS DOUBLE)")} AS confidence,
      |       ${r6sql("CAST(dr.sup_ab * no.n_orders AS BIGINT) / CAST(ia.sup * ic.sup AS DOUBLE)")} AS lift
      |FROM dr JOIN item ia ON ia.p = dr.ante
      |JOIN item ic ON ic.p = dr.cons, no
      |ORDER BY ante, cons""".stripMargin

  val oracles: Map[String, String] = Map(
    // money sums mirror the Spark side's r6∘r2 composition exactly: the
    // entry r2-rounds, then gate r6-rounds THAT value — and for y = r2(x)
    // with y·1e6 near/above 2^52 the re-round is NOT a no-op (the float
    // grid there is coarser than 1e-6, so floor(y*1e6+0.50001)/1e6 ≠ y),
    // so the oracle must compute the same two rounds in the same order
    "rel_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  ${r6sql("SUM(l_quantity)")} AS sum_qty,
        |  ${r6sql(r2sql("SUM(l_extendedprice)"))} AS sum_base_price,
        |  ${r6sql(r2sql("SUM(l_extendedprice*(1-l_discount))"))} AS sum_disc_price,
        |  ${r6sql(r2sql("SUM(l_extendedprice*(1-l_discount)*(1+l_tax))"))} AS sum_charge,
        |  ${r6sql("AVG(l_quantity)")} AS avg_qty,
        |  ${r6sql("AVG(l_extendedprice)")} AS avg_price,
        |  ${r6sql("AVG(l_discount)")} AS avg_disc,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '$PricingCutoff'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // top-k set selection on the SAME 1e-6-snapped revenue the Spark side
    // orders by (raw-double ordering can pick a different order set when
    // adjacent ranks sit inside cross-engine sum noise), and the outer
    // SELECT re-sorts the k rows to the gate key — the harness compares
    // rows positionally, so both sides must emit o_orderkey order
    "rel_top_orders" ->
      s"""SELECT * FROM (
        |  SELECT o.o_orderkey, epoch_us(o.o_orderdate) AS orderdate_us,
        |    ${r6sql("SUM(l.l_extendedprice*(1-l.l_discount))")} AS revenue
        |  FROM customer c
        |  JOIN orders o ON o.o_custkey = c.c_custkey
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE c.c_mktsegment = '$Segment'
        |    AND o.o_orderdate < TIMESTAMP '$SegmentCutoff'
        |    AND l.l_shipdate > TIMESTAMP '$SegmentCutoff'
        |  GROUP BY 1, 2
        |  ORDER BY revenue DESC, o.o_orderkey
        |  LIMIT $TopOrders
        |) ORDER BY o_orderkey""".stripMargin,
    "rel_region_revenue" ->
      s"""SELECT r.r_name, n.n_name,
        |  ${r6sql(r2sql("SUM(l.l_extendedprice*(1-l.l_discount))"))} AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE l.l_shipdate >= TIMESTAMP '$RevFrom'
        |  AND l.l_shipdate < TIMESTAMP '$RevUntil'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exact integer money (1e-4-dollar units): per-row floor recovery is
    // order-free, so sums/ranks/windows are bit-identical across engines
    "rel_top_customers" ->
      s"""SELECT t.o_custkey, c.c_name, n.n_name, t.revenue_e4,
        |  ${r6sql("CAST(t.revenue_e4 AS DOUBLE) / 1e4")} AS revenue
        |FROM (
        |  SELECT o.o_custkey,
        |    CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4
        |  FROM orders o
        |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderdate >= TIMESTAMP '$RetFrom'
        |    AND o.o_orderdate < TIMESTAMP '$RetUntil'
        |    AND l.l_returnflag = 'R'
        |  GROUP BY 1
        |  ORDER BY revenue_e4 DESC, o.o_custkey
        |  LIMIT $TopCustomers
        |) t
        |JOIN customer c ON c.c_custkey = t.o_custkey
        |JOIN nation n ON n.n_nationkey = c.c_nationkey
        |ORDER BY t.o_custkey""".stripMargin,
    // same argmin: row_number over (unit price, suppkey) — unit price is
    "rel_order_priority" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // one per-row division of identical inputs, so both engines rank
    // bit-identical values
    "rel_cheapest_supplier" ->
      s"""SELECT l_partkey, l_suppkey, ${r6sql("unit_price")} AS unit_price
        |FROM (
        |  SELECT l_partkey, l_suppkey,
        |         l_extendedprice / l_quantity AS unit_price,
        |         row_number() OVER (PARTITION BY l_partkey
        |           ORDER BY l_extendedprice / l_quantity ASC, l_suppkey ASC) AS rn
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '$VolFrom'
        |    AND l_shipdate < TIMESTAMP '$VolUntil'
        |) WHERE rn = 1 ORDER BY l_partkey""".stripMargin,
    "rel_nation_volume" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        |WHERE l.l_shipdate >= TIMESTAMP '$VolFrom'
        |  AND l.l_shipdate < TIMESTAMP '$VolUntil'
        |  AND sn.n_name IN ('$VolNationA', '$VolNationB')
        |  AND cn.n_name IN ('$VolNationA', '$VolNationB')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "rel_monthly_running" ->
      s"""WITH m AS (
        |  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
        |         CAST(month(l_shipdate) AS BIGINT) AS mo,
        |         CAST(COUNT(*) AS BIGINT) AS n_items,
        |         CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT yr, mo, n_items, revenue_e4,
        |  CAST(SUM(revenue_e4) OVER (ORDER BY yr, mo
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_revenue_e4
        |FROM m ORDER BY yr, mo""".stripMargin,
    // Q14: promo flag from the part dim; both sums exact int64, share is
    // one IEEE division of identical integers — r6 on both sides
    "rel_promo_share" -> {
      val rowRev = "CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)"
      val promoSum = s"SUM(CASE WHEN p.p_type LIKE '$PromoPrefix%' THEN $rowRev ELSE 0 END)"
      s"""SELECT CAST(year(l.l_shipdate) AS BIGINT) AS yr,
        |  CAST(month(l.l_shipdate) AS BIGINT) AS mo,
        |  CAST($promoSum AS BIGINT) AS promo_rev_e4,
        |  CAST(SUM($rowRev) AS BIGINT) AS rev_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  ${r6sql(s"100.0 * CAST($promoSum AS DOUBLE) / CAST(SUM($rowRev) AS DOUBLE)")} AS promo_share_pct
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '$VolFrom'
        |  AND l.l_shipdate < TIMESTAMP '$VolUntil'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // ROLLUP: DuckDB's GROUPING(a,b) carries the same bit convention as
    // Spark's grouping_id() (leftmost column = MSB); exact int64 money
    "rel_rollup_revenue" ->
      s"""SELECT coalesce(r.r_name, '(all)') AS r_name,
        |  coalesce(n.n_name, '(all)') AS n_name,
        |  CAST(GROUPING(r.r_name, n.n_name) AS BIGINT) AS lvl,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN region r ON r.r_regionkey = n.n_regionkey
        |WHERE l.l_shipdate >= TIMESTAMP '$RevFrom'
        |  AND l.l_shipdate < TIMESTAMP '$RevUntil'
        |GROUP BY ROLLUP(r.r_name, n.n_name) ORDER BY 1, 2""".stripMargin,
    // the same four grouping sets via GROUP BY CUBE; GROUPING() is the
    // identical bitmask both engines define, money exact int64
    "rel_cube_revenue" ->
      s"""SELECT coalesce(l_returnflag, '(all)') AS returnflag,
        |  coalesce(l_linestatus, '(all)') AS linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS lvl,
        |  CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '$RevFrom'
        |  AND l_shipdate < TIMESTAMP '$RevUntil'
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,
    // same clause disjunction, same exact int64 money
    "rel_disjunctive_revenue" -> {
      val ors = Q19Clauses.map(c =>
        s"""(p.p_brand = '${c.brand}' AND p.p_size BETWEEN ${c.sizeLo} AND ${c.sizeHi}
           | AND l.l_quantity BETWEEN ${c.qtyLo} AND ${c.qtyHi})""".stripMargin)
        .mkString("(", "\n OR ", ")")
      s"""SELECT
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE $ors""".stripMargin
    },
    // same exact-integer average threshold, same NOT EXISTS dormancy
    "rel_dormant_customers" ->
      s"""WITH bal AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
        |             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2
        |             FROM customer),
        |a AS (SELECT CAST(SUM(bal_e2) AS DOUBLE) / COUNT(*) AS avg_e2
        |      FROM bal WHERE bal_e2 > 0)
        |SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n_custs,
        |       CAST(SUM(bal_e2) AS BIGINT) AS total_bal_e2
        |FROM bal, a
        |WHERE CAST(bal_e2 AS DOUBLE) > a.avg_e2
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = bal.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '$DormantCutoff')
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    // same fact join, same CASE split — exact int64 counts
    "rel_priority_lines" ->
      s"""SELECT l.l_returnflag,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '$VolFrom'
        |  AND l.l_shipdate < TIMESTAMP '$VolUntil'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same left join + coalesce(0) zero fill, same count-of-counts
    "rel_custdist" ->
      """WITH pc AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
        |            FROM orders GROUP BY 1)
        |SELECT COALESCE(pc.cnt, 0) AS c_count,
        |       CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM customer c LEFT JOIN pc ON pc.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same exact cross-product threshold (qty·n·den < num·sum over
    // int64), same single division for the yearly average
    "rel_small_qty" ->
      s"""WITH dim AS (SELECT p_partkey FROM part
        |             WHERE p_brand = '$SmallQtyBrand'
        |               AND p_size BETWEEN $SmallQtySizeLo AND $SmallQtySizeHi),
        |sl AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |              CAST(floor(l_extendedprice * 1e4 + 0.5) AS BIGINT) AS price_e4
        |       FROM lineitem JOIN dim ON p_partkey = l_partkey),
        |st AS (SELECT l_partkey AS sp_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |              CAST(COUNT(*) AS BIGINT) AS n_lines
        |       FROM sl GROUP BY 1),
        |f AS (SELECT CAST(SUM(price_e4) AS BIGINT) AS rev_e4,
        |             CAST(COUNT(*) AS BIGINT) AS n_lines
        |      FROM sl JOIN st ON sp_partkey = l_partkey
        |      WHERE qty * n_lines * 5 < 1 * sum_qty)
        |SELECT ${r6sql("CAST(rev_e4 AS DOUBLE) / 70000.0")} AS avg_yearly,
        |       rev_e4, n_lines
        |FROM f""".stripMargin,
    // same having-filtered rollup; o_totalprice is a per-row value (no
    // sum noise) so bare r6 on both sides matches
    "rel_large_orders" ->
      s"""WITH big AS (SELECT l_orderkey,
        |             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot_qty
        |             FROM lineitem GROUP BY 1
        |             HAVING SUM(CAST(l_quantity AS BIGINT)) > $LargeQtyMin)
        |SELECT o.o_orderkey, c.c_custkey, c.c_name,
        |       epoch_us(o.o_orderdate) AS orderdate_us,
        |       ${r6sql("o.o_totalprice")} AS o_totalprice, big.tot_qty
        |FROM big
        |JOIN orders o ON o.o_orderkey = big.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_orderkey""".stripMargin,
    // same pushed predicates, same exact 1e-6-unit money floor
    "rel_discount_revenue" ->
      s"""SELECT CAST(SUM(CAST(floor(l_extendedprice * l_discount * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e6,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '$VolFrom'
        |  AND l_shipdate < TIMESTAMP '$VolUntil'
        |  AND l_discount BETWEEN $DiscLo AND $DiscHi
        |  AND l_quantity < $DiscQtyMax""".stripMargin,
    // same supplier rollup + ALL-argmax rank over exact integers
    "rel_top_supplier" ->
      s"""WITH pr AS (SELECT l_suppkey,
        |  CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS total_revenue_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '$VolFrom'
        |    AND l_shipdate < TIMESTAMP '$VolUntil'
        |  GROUP BY 1)
        |SELECT l_suppkey, total_revenue_e4 FROM (
        |  SELECT l_suppkey, total_revenue_e4,
        |         rank() OVER (ORDER BY total_revenue_e4 DESC) AS rk
        |  FROM pr
        |) WHERE rk = 1 ORDER BY l_suppkey""".stripMargin,
    // one oracle for both layouts — the physical plan differs, the
    // result may not (exact int64 money per status)
    "rel_join_bucketed" -> JoinRevenueSql,
    "rel_join_shuffled" -> JoinRevenueSql,
    // same cascaded (order, supplier) → order rollups, same sole-blame
    // predicate — exact integer flags and counts throughout
    "rel_waiting_suppliers" ->
      """WITH pos AS (SELECT l.l_orderkey, l.l_suppkey,
        |  CAST(MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |           THEN 1 ELSE 0 END) AS BIGINT) AS was_late
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  GROUP BY 1, 2),
        |po AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_supps,
        |              CAST(SUM(was_late) AS BIGINT) AS n_late
        |       FROM pos GROUP BY 1)
        |SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_sole_late_orders
        |FROM pos JOIN po USING (l_orderkey)
        |WHERE was_late = 1 AND n_supps > 1 AND n_late = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same geo chains, same CASE-flagged target sum, same one division
    "rel_market_share" ->
      s"""SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN sn.n_name = '$ShareNation'
        |       THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS target_rev_e4,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS total_rev_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  ${r6sql("CAST(SUM(CASE WHEN sn.n_name = '" + ShareNation + "' " +
            "THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT) " +
            "ELSE 0 END) AS DOUBLE) / CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)")} AS mkt_share
        |FROM lineitem l
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        |JOIN region r ON r.r_regionkey = cn.n_regionkey
        |WHERE r.r_name = '$ShareRegion'
        |  AND o.o_orderdate >= TIMESTAMP '$VolFrom'
        |  AND o.o_orderdate < TIMESTAMP '$VolUntil'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same power iteration unrolled as a CTE chain: identical edge
    // derivation, identical per-round arithmetic ((1−d)/N and d·Σ are
    // the same IEEE op sequences), rank snapped only in the outer SELECT
    "graph_pagerank" -> {
      val iters = (1 to PrIters).map { i =>
        s"""c$i AS (SELECT p.dst, SUM(p.prob * r.rank) AS c
           |      FROM p JOIN r${i - 1} r ON r.node = p.src GROUP BY 1),
           |r$i AS (SELECT nd.node,
           |        (1.0 - $PrDamping) / nn.n + $PrDamping * COALESCE(c$i.c, 0.0) AS rank
           |      FROM nd CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = nd.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst,
        |            CAST(COUNT(*) AS BIGINT) AS w
        |     FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |     GROUP BY 1, 2),
        |e AS (SELECT src, dst, w FROM e0 UNION ALL SELECT dst, src, w FROM e0),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |p AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(ow.wout AS DOUBLE) AS prob
        |      FROM e JOIN ow USING (src)),
        |nd AS (SELECT DISTINCT src AS node FROM e),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nd),
        |r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nd CROSS JOIN nn),
        |$iters
        |SELECT node, ${r6sql("rank")} AS rank FROM r$PrIters ORDER BY node""".stripMargin
    },
    // same dim slice, same per-row e4 floors on both profit terms,
    // same (nation, year) rollup — exact int64 end to end
    "rel_product_profit" ->
      s"""SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1e4 + 0.5) AS BIGINT)
        |         - CAST(floor(0.6 * p.p_retailprice * l.l_quantity * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS profit_e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE p.p_name LIKE '%$ProfitNamePart%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the same unrolled power iteration over the DIRECTED graph, plus
    // the dangling term: each r_{i-1} feeds BOTH the mass sum and the
    // contribution join, so the round CTEs are MATERIALIZED (DuckDB 1.0
    // inlines at every reference — O(2^rounds) scans otherwise)
    "graph_pagerank_dangling" -> {
      val iters = (1 to PrIters).map { i =>
        s"""dm$i AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS m
           |      FROM r${i - 1} r JOIN dang d ON d.node = r.node),
           |c$i AS MATERIALIZED (SELECT p.dst, SUM(p.prob * r.rank) AS c
           |      FROM p JOIN r${i - 1} r ON r.node = p.src GROUP BY 1),
           |r$i AS MATERIALIZED (SELECT nd.node,
           |        (1.0 - $PrDamping) / nn.n
           |          + $PrDamping * (COALESCE(c$i.c, 0.0) + dm$i.m / nn.n) AS rank
           |      FROM nd CROSS JOIN nn CROSS JOIN dm$i
           |      LEFT JOIN c$i ON c$i.dst = nd.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
        |     SELECT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst,
        |            CAST(COUNT(*) AS BIGINT) AS w
        |     FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |     GROUP BY 1, 2),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |p AS MATERIALIZED (
        |     SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(ow.wout AS DOUBLE) AS prob
        |     FROM e JOIN ow USING (src)),
        |nd AS MATERIALIZED (
        |     SELECT src AS node FROM e UNION SELECT dst FROM e),
        |dang AS MATERIALIZED (
        |     SELECT node FROM nd
        |     WHERE node NOT IN (SELECT DISTINCT src FROM e)),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nd),
        |r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nd CROSS JOIN nn),
        |$iters
        |SELECT node, ${r6sql("rank")} AS rank FROM r$PrIters ORDER BY node""".stripMargin
    },
    // the same unrolled dangling power iteration with the teleport table
    // replacing the uniform base: (1−d)·e + d·(Σ + D·e), e = 1/|S| on
    // seeds; every stage CTE materializes (referenced twice per round)
    "graph_ppr" -> {
      val iters = (1 to PrIters).map { i =>
        s"""dm$i AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS m
           |      FROM r${i - 1} r JOIN dang d ON d.node = r.node),
           |c$i AS MATERIALIZED (SELECT p.dst, SUM(p.prob * r.rank) AS c
           |      FROM p JOIN r${i - 1} r ON r.node = p.src GROUP BY 1),
           |r$i AS MATERIALIZED (SELECT t.node,
           |        (1.0 - $PrDamping) * t.e
           |          + $PrDamping * (COALESCE(c$i.c, 0.0) + dm$i.m * t.e) AS rank
           |      FROM tele t CROSS JOIN dm$i
           |      LEFT JOIN c$i ON c$i.dst = t.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
        |     SELECT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst,
        |            CAST(COUNT(*) AS BIGINT) AS w
        |     FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |     GROUP BY 1, 2),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |p AS MATERIALIZED (
        |     SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(ow.wout AS DOUBLE) AS prob
        |     FROM e JOIN ow USING (src)),
        |nd AS MATERIALIZED (
        |     SELECT src AS node FROM e UNION SELECT dst FROM e),
        |dang AS MATERIALIZED (
        |     SELECT node FROM nd
        |     WHERE node NOT IN (SELECT DISTINCT src FROM e)),
        |sd AS MATERIALIZED (
        |     SELECT DISTINCT 'c' || o_custkey AS node FROM orders
        |     WHERE o_custkey % $PprSeedMod = 0
        |       AND 'c' || o_custkey IN (SELECT node FROM nd)),
        |sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM sd),
        |tele AS MATERIALIZED (
        |     SELECT nd.node,
        |            CASE WHEN sd.node IS NOT NULL
        |                 THEN 1.0 / CAST(sc.m AS DOUBLE) ELSE 0.0 END AS e
        |     FROM nd CROSS JOIN sc LEFT JOIN sd ON sd.node = nd.node),
        |r0 AS MATERIALIZED (SELECT node, e AS rank FROM tele),
        |$iters
        |SELECT node, ${r6sql("rank")} AS rank FROM r$PrIters ORDER BY node""".stripMargin
    },
    // the same unrolled hub→auth→hub half-rounds: identical join/agg
    // arithmetic, identical L1 normalization via a 1-row sum CTE; every
    // stage CTE materializes (referenced twice — DuckDB 1.0 inlines)
    "graph_hits" -> {
      val iters = (1 to HitsIters).map { i =>
        s"""ar$i AS MATERIALIZED (SELECT e.dst, SUM(h.hub) AS a
           |      FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),
           |sa$i AS (SELECT COALESCE(SUM(a), 0.0) AS s FROM ar$i),
           |a$i AS MATERIALIZED (SELECT nd.node,
           |        CASE WHEN sa$i.s > 0 THEN COALESCE(ar$i.a, 0.0) / sa$i.s
           |             ELSE 0.0 END AS auth
           |      FROM nd CROSS JOIN sa$i LEFT JOIN ar$i ON ar$i.dst = nd.node),
           |hr$i AS MATERIALIZED (SELECT e.src, SUM(a.auth) AS h
           |      FROM e JOIN a$i a ON a.node = e.dst GROUP BY 1),
           |sh$i AS (SELECT COALESCE(SUM(h), 0.0) AS s FROM hr$i),
           |h$i AS MATERIALIZED (SELECT nd.node,
           |        CASE WHEN sh$i.s > 0 THEN COALESCE(hr$i.h, 0.0) / sh$i.s
           |             ELSE 0.0 END AS hub
           |      FROM nd CROSS JOIN sh$i LEFT JOIN hr$i ON hr$i.src = nd.node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
        |     SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
        |     FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |nd AS MATERIALIZED (
        |     SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nd),
        |h0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS hub FROM nd CROSS JOIN nn),
        |$iters
        |SELECT h.node, ${r6sql("h.hub")} AS hub, ${r6sql("a.auth")} AS auth
        |FROM h$HitsIters h JOIN a$HitsIters a ON a.node = h.node
        |ORDER BY h.node""".stripMargin
    },
    // unrolled peel rounds; every round's survivor set feeds the next
    // round's TWO endpoint joins, so each stage CTE materializes
    // (DuckDB 1.0 inlines at every reference otherwise)
    "graph_kcore" -> kcoreOracle(KCoreRounds),
    // the FIXPOINT twin: same peel unrolled to the full round budget —
    // the Spark side stops at the measured fixed point, and every
    // post-fixpoint oracle round is identity, so the two agree at any
    // actual convergence depth ≤ the budget
    "graph_kcore_fixpoint" -> kcoreOracle(GraphMaxRounds),
    // unrolled plurality-vote rounds; per-round label tables
    // materialize (each is referenced by the next round's join)
    "graph_lpa" -> lpaOracle(LpaRounds),
    // the CONVERGED twin: unrolled to the full budget — a zero-change
    // round is a fixed point of the synchronous update, so the early-
    // stopped Spark table equals the budget-depth oracle table
    "graph_lpa_converged" -> lpaOracle(GraphMaxRounds),
    // id-ordered orientation instead of the Spark side's degree
    // orientation — the triangle SET is orientation-invariant, so the
    // two derivations agreeing is a real cross-check, not a replay
    "graph_triangles" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey),
        |tri AS MATERIALIZED (
        |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM (SELECT x AS node FROM tri
        |      UNION ALL SELECT y FROM tri
        |      UNION ALL SELECT z FROM tri)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the router's three surfaces replayed verbatim: same canonical
    // edges, same degree orientation, same Σ d(d−1)/2 integral wedge
    // sum, same IEEE divide/√/ceil color ladder — over the organic
    // graph (two budgets) and the organic ∪ planted-clique graph
    "graph_triangles_auto" -> {
      val k = TriCliqueK
      s"""WITH e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey),
        |h AS MATERIALIZED (
        |  SELECT u, v FROM e
        |  UNION ALL
        |  SELECT $TriCliqueBase + (t.i // $k) AS u, $TriCliqueBase + (t.i % $k) AS v
        |  FROM range(0, ${k.toLong * k}) t(i) WHERE (t.i // $k) < (t.i % $k)),
        |${triRouteCtes("e")},
        |${triRouteCtes("h")}
        |${triRouteSelect("e", TriBudgetPerEdge, "organic")}
        |UNION ALL
        |${triRouteSelect("h", TriBudgetPerEdge, "headed")}
        |UNION ALL
        |${triRouteSelect("e", TriBudgetTight, "tight")}
        |ORDER BY regime""".stripMargin
    },
    // same monochromatic-edge filter (identical int64 hash color), same
    // degree-oriented close, exact int64 counts ×n² — the sampled
    // kernel is a pure function of the graph, so the oracle reproduces
    // the ESTIMATE bit for bit, not just its distribution
    "graph_triangles_colorful" ->
      s"""WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey),
        |cs AS MATERIALIZED (
        |  SELECT u, v FROM e0
        |  WHERE ((u * 2654435761) % 2147483647) % $TriColors
        |      = ((v * 2654435761) % 2147483647) % $TriColors),
        |dg AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
        |    SELECT u AS node FROM cs UNION ALL SELECT v FROM cs) GROUP BY 1),
        |o AS MATERIALIZED (
        |  SELECT CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND cs.u < cs.v)
        |              THEN cs.u ELSE cs.v END AS a,
        |         CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND cs.u < cs.v)
        |              THEN cs.v ELSE cs.u END AS b
        |  FROM cs JOIN dg x ON x.node = cs.u JOIN dg y ON y.node = cs.v),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt
        |      FROM o o1 JOIN o o2 ON o2.a = o1.a AND o2.b > o1.b
        |      JOIN cs ON cs.u = o1.b AND cs.v = o2.b)
        |SELECT CAST($TriColors AS BIGINT) AS n_colors,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM cs) AS n_edges_sampled,
        |       nt AS n_triangles_sampled,
        |       CAST(nt * ${TriColors * TriColors} AS BIGINT) AS triangles_est
        |FROM t""".stripMargin,
    // same distinct collapse, same basket-size cap semi-join, same
    // canonical pair join, same exact-int ratios (one division each)
    "rel_basket_rules" -> basketRulesOracle(
      "SELECT l_orderkey AS ok0, l_partkey AS p0 FROM lineitem",
      BasketMaxItems),
    // planted mega-basket (order −1 = every part) kept by the huge cap:
    // the oracle carries the +1 the synthetic order adds to every pair
    // and item support, and the +1 order in N
    "rel_basket_rules_skew" -> basketRulesOracle(megaBasketSql, BasketNoCap),
    // the cap drops EXACTLY the planted order, so the capped twin must
    // reproduce the base query bit for bit — same oracle text modulo the
    // planted source proves the cap removes the mega-basket and nothing
    // else
    "rel_basket_rules_skew_capped" ->
      basketRulesOracle(megaBasketSql, BasketMaxItems),
    // same histogram crossing rule per metric (min bucket with cum ≥
    // 1+floor(q·(n−1)), value = bucket·width), same int64 boundary
    // compares; qs interpolated from the SAME Scala doubles
    "rel_rfm_segments" -> {
      val (db, sb) = (30L, 100000000L)
      s"""WITH od AS (SELECT o_custkey,
        |                   epoch_us(o_orderdate) // 86400000000 AS day,
        |                   CAST(floor(o_totalprice * 1e4 + 0.5) AS BIGINT) AS price_e4
        |            FROM orders),
        |per AS MATERIALIZED (SELECT o_custkey, MAX(day) AS last_day,
        |              CAST(COUNT(*) AS BIGINT) AS n_orders,
        |              CAST(SUM(price_e4) AS BIGINT) AS spend_e4
        |       FROM od GROUP BY 1),
        |anc AS (SELECT MAX(last_day) AS a FROM per),
        |mm AS MATERIALIZED (SELECT o_custkey, a - last_day AS days_since,
        |             n_orders, spend_e4 FROM per, anc),
        |qs AS (SELECT CAST(unnest([${Relational.RfmQs.mkString(", ")}]) AS DOUBLE) AS q),
        |hr AS (SELECT days_since // $db AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM mm GROUP BY 1),
        |crr AS (SELECT bucket, SUM(c) OVER (ORDER BY bucket) AS cum FROM hr),
        |nr AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hr),
        |trr AS (SELECT q, CAST(1 + floor(q * (n - 1)) AS BIGINT) AS rn FROM nr, qs),
        |vr AS (SELECT t.q, CAST(MIN(c.bucket) * $db AS BIGINT) AS v
        |       FROM trr t JOIN crr c ON c.cum >= t.rn GROUP BY t.q),
        |xr AS (SELECT MIN(CASE WHEN q < 0.5 THEN v END) AS t1,
        |              MIN(CASE WHEN q > 0.5 THEN v END) AS t2 FROM vr),
        |hf AS (SELECT n_orders AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM mm GROUP BY 1),
        |cff AS (SELECT bucket, SUM(c) OVER (ORDER BY bucket) AS cum FROM hf),
        |nf AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hf),
        |tff AS (SELECT q, CAST(1 + floor(q * (n - 1)) AS BIGINT) AS rn FROM nf, qs),
        |vf AS (SELECT t.q, CAST(MIN(c.bucket) AS BIGINT) AS v
        |       FROM tff t JOIN cff c ON c.cum >= t.rn GROUP BY t.q),
        |xf AS (SELECT MIN(CASE WHEN q < 0.5 THEN v END) AS t1,
        |              MIN(CASE WHEN q > 0.5 THEN v END) AS t2 FROM vf),
        |hm AS (SELECT spend_e4 // $sb AS bucket, CAST(COUNT(*) AS BIGINT) AS c FROM mm GROUP BY 1),
        |cmm AS (SELECT bucket, SUM(c) OVER (ORDER BY bucket) AS cum FROM hm),
        |nm AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hm),
        |tmm AS (SELECT q, CAST(1 + floor(q * (n - 1)) AS BIGINT) AS rn FROM nm, qs),
        |vm AS (SELECT t.q, CAST(MIN(c.bucket) * $sb AS BIGINT) AS v
        |       FROM tmm t JOIN cmm c ON c.cum >= t.rn GROUP BY t.q),
        |xm AS (SELECT MIN(CASE WHEN q < 0.5 THEN v END) AS t1,
        |              MIN(CASE WHEN q > 0.5 THEN v END) AS t2 FROM vm),
        |sc AS (SELECT mm.o_custkey, mm.days_since, mm.n_orders, mm.spend_e4,
        |         CAST(3 - (CASE WHEN days_since > xr.t1 THEN 1 ELSE 0 END
        |                 + CASE WHEN days_since > xr.t2 THEN 1 ELSE 0 END) AS BIGINT) AS r_score,
        |         CAST(1 + CASE WHEN n_orders > xf.t1 THEN 1 ELSE 0 END
        |                + CASE WHEN n_orders > xf.t2 THEN 1 ELSE 0 END AS BIGINT) AS f_score,
        |         CAST(1 + CASE WHEN spend_e4 > xm.t1 THEN 1 ELSE 0 END
        |                + CASE WHEN spend_e4 > xm.t2 THEN 1 ELSE 0 END AS BIGINT) AS m_score
        |       FROM mm, xr, xf, xm)
        |SELECT o_custkey, days_since, n_orders, spend_e4,
        |       r_score, f_score, m_score,
        |       r_score * 100 + f_score * 10 + m_score AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin
    },
    // same exact int64 sums; the assortativity ratio is the identical
    // left-to-right double op sequence on both engines
    "graph_degree_stats" ->
      s"""WITH e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey),
        |deg AS MATERIALIZED (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |              CAST(MIN(deg) AS BIGINT) AS min_degree,
        |              CAST(MAX(deg) AS BIGINT) AS max_degree,
        |              ${r6sql("CAST(SUM(deg) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)")} AS mean_degree
        |       FROM deg),
        |es AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |              CAST(SUM(d1.deg * d2.deg) AS BIGINT) AS sjk,
        |              CAST(SUM(d1.deg + d2.deg) AS BIGINT) AS sj,
        |              CAST(SUM(d1.deg * d1.deg + d2.deg * d2.deg) AS BIGINT) AS sj2
        |       FROM e JOIN deg d1 ON d1.node = e.u JOIN deg d2 ON d2.node = e.v)
        |SELECT n_nodes, m AS n_edges, min_degree, max_degree, mean_degree,
        |       ${r6sql("CASE WHEN 2.0 * CAST(m AS DOUBLE) * CAST(sj2 AS DOUBLE) - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) = 0.0 THEN 0.0 ELSE (4.0 * CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE) - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) / (2.0 * CAST(m AS DOUBLE) * CAST(sj2 AS DOUBLE) - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) END")} AS assortativity
        |FROM ns, es""".stripMargin,
    // identical wedge derivation through the capped shared neighbor;
    // the RA term is CAST(1 AS DOUBLE)/deg — division only, correctly
    // rounded IEEE in both engines — and the sum is r6-snapped at the
    // gate grid like every double column
    "graph_linkpred" ->
      s"""WITH e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey),
        |adj AS MATERIALIZED (
        |  SELECT u AS w, v AS n FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |cap AS MATERIALIZED (
        |  SELECT adj.w, adj.n, deg.d FROM adj JOIN deg USING (w)
        |  WHERE deg.d <= $LinkMaxDeg),
        |wed AS (SELECT a.n AS u, b.n AS v, a.d
        |        FROM cap a JOIN cap b ON a.w = b.w AND a.n < b.n),
        |sc AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
        |              SUM(CAST(1 AS DOUBLE) / d) AS ra
        |       FROM wed GROUP BY 1, 2
        |       HAVING COUNT(*) >= $LinkMinCommon)
        |SELECT sc.u, sc.v, sc.cn, ${r6sql("sc.ra")} AS ra
        |FROM sc ANTI JOIN e ON sc.u = e.u AND sc.v = e.v
        |ORDER BY u, v""".stripMargin,
    // the 1/denom importance compare stays in int64 on both sides; the
    // nation total is internal only (never an output column, so its
    // HUGEINT typing inside DuckDB is irrelevant to the hash)
    "rel_nation_stock" ->
      s"""WITH rel AS MATERIALIZED (
        |  SELECT l.l_partkey,
        |    CAST(SUM(CAST(floor(0.6 * p.p_retailprice * l.l_quantity * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS value_e4
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE n.n_name = '$StockNation'
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(value_e4) AS BIGINT) AS t FROM rel)
        |SELECT l_partkey, value_e4 FROM rel, tot
        |WHERE value_e4 * $StockDenom > t
        |ORDER BY l_partkey""".stripMargin,
    "rel_supplier_diversity" ->
      s"""SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(COUNT(DISTINCT r.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) r
        |JOIN part p ON p.p_partkey = r.l_partkey
        |WHERE p.p_brand <> '$DivBrand' AND p.p_type <> '$DivType'
        |  AND p.p_size IN (${DivSizes.mkString(", ")})
        |  AND r.l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "rel_dominant_shippers" ->
      s"""WITH ps AS MATERIALIZED (
        |  SELECT l.l_partkey, l.l_suppkey,
        |    SUM(CAST(l.l_quantity AS BIGINT)) AS qty
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE p.p_name LIKE '%$ProfitNamePart%'
        |    AND l.l_shipdate >= TIMESTAMP '$RevFrom'
        |    AND l.l_shipdate < TIMESTAMP '$RevUntil'
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey AS pk, SUM(qty) AS total_qty FROM ps GROUP BY 1)
        |SELECT ps.l_suppkey, s.s_name, n.n_name,
        |  CAST(COUNT(*) AS BIGINT) AS n_dominated_parts,
        |  CAST(SUM(ps.qty) AS BIGINT) AS dominated_qty
        |FROM ps JOIN pt ON pt.pk = ps.l_partkey
        |JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE ps.qty * $DomDenom > pt.total_qty
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "rel_table_profile" ->
      ProfileCols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
          |  CAST(COUNT($c) AS BIGINT) AS n_nonnull,
          |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
          |  CAST(MIN($c) AS VARCHAR) AS min_str,
          |  CAST(MAX($c) AS VARCHAR) AS max_str
          |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  )
}
