package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.PageRank
import QueryUtil._

/** Graph-analytics surface: link-authority ranking
  * ([[graft.operators.PageRank]]) over a graph derived from the
  * relational tables — the domain-authority weighting step of a
  * crawl-curation pipeline, demonstrated on the procurement graph.
  */
object GraphQueries {

  val PrIterations = 3
  val PrTopK = 20

  /** Integer-quantized PageRank over the customer↔supplier purchase
    * graph: an (undirected, so both directed arcs) edge wherever a
    * customer ordered a line item from a supplier. Three damped
    * iterations in exact integer millionths
    * ([[graft.operators.PageRank]]), then the top-[[PrTopK]]
    * authorities — high-degree suppliers surface exactly like
    * high-inlink web domains would.
    *
    * Scale shape: edge construction is one orders⋈lineitem join on the
    * order key + a distinct collapse (map-side combined); node ids are
    * packed LONGS (`2·custkey` / `2·suppkey+1` — integer shuffle keys
    * hash/sort several× cheaper than rendered strings at 10⁸ edges),
    * with the `C…`/`S…` label rendered only on the final |V|-row
    * projection; both directed arcs come from one `explode` pass over
    * the distinct pairs, not a union that would re-derive them. The
    * per-iteration shuffle story is documented on the operator; final
    * top-K is TakeOrderedAndProject, never a global sort. */
  def purchasePagerank(spark: SparkSession, dir: String): DataFrame = {
    PageRank.run(purchaseArcs(spark, dir), PrIterations)
      .select(
        when(col("node") % 2L === 0L, concat(lit("C"), expr("node div 2")))
          .otherwise(concat(lit("S"), expr("node div 2"))).as("node"),
        col("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(PrTopK)
  }

  val purchasePagerankSql: String = {
    val it = (p: String) => PageRank.iterationSql(p)
    s"""WITH p AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e0 AS (
       |  SELECT c AS src, s AS dst FROM p
       |  UNION ALL SELECT s, c FROM p),
       |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e0 GROUP BY src),
       |e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
       |n AS (SELECT DISTINCT src AS node FROM e0),
       |r0 AS (SELECT node, ${PageRank.RankUnit}::BIGINT AS rank FROM n),
       |r1 AS (${it("r0")}),
       |r2 AS (${it("r1")}),
       |r3 AS (${it("r2")})
       |SELECT CASE WHEN node % 2 = 0 THEN 'C' || (node // 2)::VARCHAR
       |            ELSE 'S' || (node // 2)::VARCHAR END AS node, rank
       |FROM r3
       |ORDER BY rank DESC, node LIMIT $PrTopK""".stripMargin
  }

  /** Both directed arcs of the customer↔supplier purchase graph with
    * packed-long node ids (`2·custkey` / `2·suppkey+1`) — the shared
    * edge construction of q111 and q211: one orders⋈lineitem join, a
    * distinct collapse, both arcs from one `explode` pass. */
  private def purchaseArcs(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensurePurchaseArcsStore(spark, dir)).select("src", "dst")

  /** Write-once persisted purchase-graph ARCS (customer 2k ↔ supplier
    * 2k+1, both directions) — the second graph-family backbone store
    * (after [[ensureBackboneStore]]): q111/q211/q216/q228/q291/q294
    * each re-derived these arcs (orders⋈lineitem → distinct →
    * symmetrize) once per query; one build per corpus generation now
    * persists them under the [[graft.sources.IndexStore]] lifecycle
    * (fingerprint spans BOTH source tables — either regenerating
    * invalidates). Returns the catalog table name. */
  def ensurePurchaseArcsStore(spark: SparkSession, dir: String): String =
    GraphQueries.synchronized {
      import graft.sources.IndexStore
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/orders.parquet")) +
        IndexStore.contentTag(new java.io.File(s"$dir/lineitem.parquet"))
      val name = s"purchase_arcs_${dirTag}_$fpTag"
      if (!spark.catalog.tableExists(name)) {
        val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
        val dest = new java.io.File(storeRoot,
          s"graft_purchase_arcs_${dirTag}_$fpTag")
        IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
          table(spark, dir, "orders").select("o_orderkey", "o_custkey")
            .join(table(spark, dir, "lineitem")
              .select("l_orderkey", "l_suppkey"),
              col("o_orderkey") === col("l_orderkey"))
            .select((col("o_custkey") * 2L).as("c"),
              (col("l_suppkey") * 2L + 1L).as("s"))
            .distinct()
            .select(explode(array(
              struct(col("c").as("src"), col("s").as("dst")),
              struct(col("s").as("src"), col("c").as("dst")))).as("e"))
            .select("e.src", "e.dst")
            .coalesce(4).write.mode("overwrite").parquet(staging.getPath)
        }
        val lt = org.apache.spark.sql.types.LongType
        val schema = org.apache.spark.sql.types.StructType(
          Seq("src", "dst").map(org.apache.spark.sql.types.StructField(_, lt)))
        IndexStore.registerParquet(spark, name, dest.getPath, schema)
        IndexStore.cleanupSuperseded(spark, storeRoot,
          s"graft_purchase_arcs_${dirTag}_", dest.getName,
          s"purchase_arcs_${dirTag}_", name)
      }
      name
    }

  /** The shared edge/seed CTE prefix of the q211 oracle. */
  private val arcsCtePrefix =
    """p AS (
      |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |e0 AS (
      |  SELECT c AS src, s AS dst FROM p
      |  UNION ALL SELECT s, c FROM p)""".stripMargin

  // ---- q211: single-source BFS hop distances ---------------------------

  val BfsMaxHops = 4

  /** Hop distances from the minimum-id node of the purchase graph —
    * the crawl-depth / reachability audit ("how many hops from the
    * seed is each node?") run with [[graft.operators.Bfs]]'s
    * frontier iteration. The seed is a one-row bounded aggregate
    * (min node id — deterministic, exists at every SF); distances are
    * exact integers so the gate is hash-exact. The depth bound
    * [[BfsMaxHops]] is the operator's contract, not a truncation: on
    * this near-bipartite-complete graph everything reachable is
    * reached well inside it (unreached nodes are absent rows, a
    * checkable property, not a silent cap). Scale shape documented on
    * [[graft.operators.Bfs]]: edges persist once; per round only
    * frontier-sized tables shuffle. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val edges = purchaseArcs(spark, dir)
    val seed = edges.agg(min(col("src"))).head().getLong(0)
    graft.operators.Bfs.run(edges, seed, BfsMaxHops)
      .select(
        when(col("node") % 2L === 0L, concat(lit("C"), expr("node div 2")))
          .otherwise(concat(lit("S"), expr("node div 2"))).as("node"),
        col("dist"))
      .orderBy("dist", "node")
  }

  val bfsHopsSql: String =
    s"""WITH RECURSIVE $arcsCtePrefix,
       |seed AS (SELECT min(src) AS s FROM e0),
       |walk(node, dist) AS (
       |  SELECT s, 0 FROM seed
       |  UNION
       |  SELECT e0.dst, w.dist + 1
       |  FROM walk w JOIN e0 ON e0.src = w.node
       |  WHERE w.dist < $BfsMaxHops),
       |d AS (SELECT node, min(dist)::BIGINT AS dist FROM walk GROUP BY node)
       |SELECT CASE WHEN node % 2 = 0 THEN 'C' || (node // 2)::VARCHAR
       |            ELSE 'S' || (node // 2)::VARCHAR END AS node, dist
       |FROM d ORDER BY dist, node""".stripMargin

  // ---- q216: personalized PageRank (seeded restart) --------------------

  val PprIterations = 3
  val PprTopK = 20
  /** Seed slice: customers of nation 1 — a topic/domain slice whose
    * view of supplier authority PPR extracts. */
  val PprSeedNation = 1L

  /** Personalized PageRank over the q111 purchase graph, restarting to
    * the nation-[[PprSeedNation]] customer cohort
    * ([[graft.operators.PageRank.runPersonalized]]): rank = authority
    * AS SEEN FROM the seed slice — the focused-crawl / recommendation
    * variant of global PageRank (suppliers serving that nation's
    * customers surface; suppliers two hops out inherit only damped
    * mass). Same integer-exact recurrence and top-K discipline as
    * q111; zero-rank nodes (unreached at 3 hops) stay in the table —
    * the top-K drops them naturally, never a special case. */
  def personalizedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val seeds = table(spark, dir, "customer")
      .filter(col("c_nationkey") === PprSeedNation)
      .select((col("c_custkey") * 2L).as("node"))
    PageRank.runPersonalized(purchaseArcs(spark, dir), seeds, PprIterations)
      .select(
        when(col("node") % 2L === 0L, concat(lit("C"), expr("node div 2")))
          .otherwise(concat(lit("S"), expr("node div 2"))).as("node"),
        col("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(PprTopK)
  }

  val personalizedPagerankSql: String = {
    val it = (p: String) => PageRank.personalizedIterationSql(p)
    s"""WITH $arcsCtePrefix,
       |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e0 GROUP BY src),
       |e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg USING (src)),
       |seeds AS (
       |  SELECT DISTINCT c_custkey * 2 AS node FROM customer
       |  WHERE c_nationkey = $PprSeedNation),
       |n2 AS (
       |  SELECT node,
       |    CASE WHEN node IN (SELECT node FROM seeds) THEN 1 ELSE 0 END
       |      AS is_seed
       |  FROM (SELECT DISTINCT src AS node FROM e0)),
       |r0 AS (
       |  SELECT node, (is_seed * ${PageRank.RankUnit})::BIGINT AS rank FROM n2),
       |r1 AS (${it("r0")}),
       |r2 AS (${it("r1")}),
       |r3 AS (${it("r2")})
       |SELECT CASE WHEN node % 2 = 0 THEN 'C' || (node // 2)::VARCHAR
       |            ELSE 'S' || (node // 2)::VARCHAR END AS node, rank
       |FROM r3
       |ORDER BY rank DESC, node LIMIT $PprTopK""".stripMargin
  }

  // ---- q218: cheapest partner path (bounded Bellman-Ford) --------------

  val SpRounds = 4

  /** Cheapest ≤[[SpRounds]]-hop path costs from the min-id node over
    * the WEIGHTED purchase graph ([[graft.operators.MinPlus]]): edge
    * cost `1 + 1000 div cnt` where cnt = joint line items — frequent
    * partners are cheap, so low cost = strong business proximity to
    * the seed (the weighted refinement of q211's hop counts; supplier
    * routing and trust-propagation queries share this shape). Costs
    * are exact integers; the oracle replays the identical min-plus
    * recurrence as [[SpRounds]] unrolled SQL stages. */
  def cheapestPartnerPath(spark: SparkSession, dir: String): DataFrame = {
    val counted = table(spark, dir, "orders").select("o_orderkey", "o_custkey")
      .join(table(spark, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2L).as("c"),
        (col("l_suppkey") * 2L + 1L).as("s"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("w", lit(1L) + expr("1000 div cnt"))
    // materialize the edge derivation ONCE: the seed aggregate below is
    // its own action, and MinPlus.run's lazy edge persist re-derived
    // the whole orders⋈lineitem subtree a second time (probe: two
    // 0.5 s derivation jobs per rep). The edge list is the (cust,supp)
    // pair aggregate — |V|²-bounded, far smaller than lineitem — so
    // one eager checkpoint is the same memory class the operator's own
    // persist already claims.
    val edges = counted
      .select(explode(array(
        struct(col("c").as("src"), col("s").as("dst"), col("w")),
        struct(col("s").as("src"), col("c").as("dst"), col("w")))).as("e"))
      .select("e.src", "e.dst", "e.w")
      .localCheckpoint(true)
    val seed = edges.agg(min(col("src"))).head().getLong(0)
    graft.operators.MinPlus.run(edges, seed, SpRounds)
      .select(
        when(col("node") % 2L === 0L, concat(lit("C"), expr("node div 2")))
          .otherwise(concat(lit("S"), expr("node div 2"))).as("node"),
        col("cost"))
      .orderBy("cost", "node")
  }

  val cheapestPartnerPathSql: String = {
    val relax = (p: String) => graft.operators.MinPlus.relaxSql(p)
    val stages = (1 to SpRounds)
      .map(k => s"d$k AS (${relax(s"d${k - 1}")})").mkString(",\n")
    s"""WITH p AS (
       |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
       |    count(*)::BIGINT AS cnt
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       |pw AS (SELECT c, s, (1 + 1000 // cnt)::BIGINT AS w FROM p),
       |e0 AS (
       |  SELECT c AS src, s AS dst, w FROM pw
       |  UNION ALL SELECT s, c, w FROM pw),
       |seed AS (SELECT min(src) AS sd FROM e0),
       |d0 AS (SELECT sd AS node, 0::BIGINT AS cost FROM seed),
       |$stages
       |SELECT CASE WHEN node % 2 = 0 THEN 'C' || (node // 2)::VARCHAR
       |            ELSE 'S' || (node // 2)::VARCHAR END AS node, cost
       |FROM d$SpRounds ORDER BY cost, node""".stripMargin
  }

  // ---- q224: temporal earliest-arrival reachability -------------------

  /** Rounds of temporal relaxation (≤ K edges per path). */
  val ReachRounds = 4

  /** Release time at the seed: epoch day of 1995-01-01 — mid-corpus,
    * so roughly half the edges PRE-DATE the release and are unusable;
    * the temporal constraint actually bites (the spec pins the gap
    * against static reachability). */
  val ReachStart = 9131L

  /** Time-respecting earliest-arrival spread over the purchase graph
    * ([[graft.operators.TemporalReach]]): each (customer, supplier)
    * arc carries its ORDER DATE, and contamination released at the
    * seed on [[ReachStart]] can only traverse arcs in non-decreasing
    * time order — the supply-chain incident question ("which partners
    * could a compromise reach, and how early") that q211's static BFS
    * overstates by ignoring edge ordering. Integer epoch days
    * throughout; the oracle unrolls the recurrence as
    * [[ReachRounds]] |V|-row stages. */
  def temporalReach(spark: SparkSession, dir: String): DataFrame = {
    val p = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("t"))
      .join(table(spark, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2L).as("c"),
        (col("l_suppkey") * 2L + 1L).as("s"), col("t"))
      .distinct()
    // one derivation for both the seed action and the operator's loop
    // (same double-derivation defect and fix as cheapestPartnerPath)
    val edges = p
      .select(explode(array(
        struct(col("c").as("src"), col("s").as("dst"), col("t")),
        struct(col("s").as("src"), col("c").as("dst"), col("t")))).as("e"))
      .select("e.src", "e.dst", "e.t")
      .localCheckpoint(true)
    val seed = edges.agg(min(col("src"))).head().getLong(0)
    graft.operators.TemporalReach.run(edges, seed, ReachStart, ReachRounds)
      .select(
        when(col("node") % 2L === 0L, concat(lit("C"), expr("node div 2")))
          .otherwise(concat(lit("S"), expr("node div 2"))).as("node"),
        col("arr"))
      .orderBy("arr", "node")
  }

  val temporalReachSql: String = {
    val relax = (p: String) => graft.operators.TemporalReach.relaxSql(p)
    val stages = (1 to ReachRounds)
      .map(k => s"a$k AS (${relax(s"a${k - 1}")})").mkString(",\n")
    s"""WITH p AS (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
       |    (epoch_us(o_orderdate::TIMESTAMP) // 86400000000)::BIGINT AS t
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e0 AS (
       |  SELECT c AS src, s AS dst, t FROM p
       |  UNION ALL SELECT s, c, t FROM p),
       |seed AS (SELECT min(src) AS sd FROM e0),
       |a0 AS (SELECT sd AS node, $ReachStart::BIGINT AS arr FROM seed),
       |$stages
       |SELECT CASE WHEN node % 2 = 0 THEN 'C' || (node // 2)::VARCHAR
       |            ELSE 'S' || (node // 2)::VARCHAR END AS node, arr
       |FROM a$ReachRounds ORDER BY arr, node""".stripMargin
  }

  // ---- q228: bounded k-core of the purchase graph ----------------------

  /** Core order: a node stays only with ≥ [[CoreK]] neighbors that
    * each (recursively) stay. */
  val CoreK = 5L

  /** Peeling rounds — fixed so both engines replay the identical
    * recurrence; KCoreSpec asserts round R ≡ round R+1 on this graph
    * (fixpoint reached), so the bounded result IS the k-core here. */
  val CoreRounds = 6

  /** [[graft.operators.KCore]] over the purchase graph: the
    * densest-substructure filter — which customers and suppliers are
    * STRUCTURAL participants of the trade web (≥ [[CoreK]] partners
    * that each have ≥ [[CoreK]] surviving partners, recursively)
    * rather than incidental one-order actors a plain degree threshold
    * would keep. Output: every k-core member with its in-core
    * degree. */
  def kcorePartners(spark: SparkSession, dir: String): DataFrame =
    graft.operators.KCore.run(purchaseArcs(spark, dir), CoreK, CoreRounds)
      .select(
        when(col("node") % 2L === 0L, concat(lit("C"), expr("node div 2")))
          .otherwise(concat(lit("S"), expr("node div 2"))).as("node"),
        col("deg"))
      .orderBy("node")

  val kcorePartnersSql: String = {
    val peel = (p: String) => graft.operators.KCore.peelSql(p, CoreK)
    val stages = (1 to CoreRounds)
      .map(i => s"a$i AS (${peel(s"a${i - 1}")})").mkString(",\n")
    s"""WITH $arcsCtePrefix,
       |a0 AS (SELECT DISTINCT src AS id FROM e0),
       |$stages
       |SELECT CASE WHEN node % 2 = 0 THEN 'C' || (node // 2)::VARCHAR
       |            ELSE 'S' || (node // 2)::VARCHAR END AS node, deg
       |FROM (
       |  SELECT e0.src AS node, count(*)::BIGINT AS deg FROM e0
       |  JOIN a$CoreRounds p1 ON e0.src = p1.id
       |  JOIN a$CoreRounds p2 ON e0.dst = p2.id
       |  GROUP BY e0.src)
       |ORDER BY node""".stripMargin
  }

  // ---- q234: frequent brand triples (market-basket 3-itemsets) --------

  /** Top slots reported. */
  val TripleTopK = 20

  /** Frequent 3-itemset mining over order baskets — the k=3 member of
    * the association family (q114 scores PAIRS with lift; 3-itemsets
    * expose brand-bundle structure pairwise lift cannot see). Baskets
    * are an order's distinct part brands; triple support counts by a
    * three-way ordered self-join (`b1 < b2 < b3` — each unordered
    * triple exactly once); the report is the top [[TripleTopK]] by
    * (support desc, brands asc) — a fully deterministic total order,
    * so the gate is hash-exact. The Apriori anti-monotone property
    * (every sub-pair's support ≥ the triple's) is spec-asserted, and
    * is the pruning lever the same plan uses at large item universes
    * (restrict the join to frequent pairs); at 25 brands the
    * candidate space is C(25,3) and pruning is unnecessary.
    *
    * Scale shape: the basket table is two narrow columns; the ordered
    * self-joins shuffle on orderkey (co-partitioned after the first);
    * the top-K is a TakeOrderedAndProject, never a global sort. */
  def brandTriples(spark: SparkSession, dir: String): DataFrame = {
    val bk = table(spark, dir, "lineitem").select("l_orderkey", "l_partkey")
      .join(table(spark, dir, "part").select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
      .distinct()
    val nb = bk.agg(countDistinct(col("o")).as("n"))
    val t = bk.select(col("o"), col("b").as("b1"))
      .join(bk.select(col("o"), col("b").as("b2")), Seq("o"))
      .filter(col("b1") < col("b2"))
      .join(bk.select(col("o"), col("b").as("b3")), Seq("o"))
      .filter(col("b2") < col("b3"))
      .groupBy("b1", "b2", "b3").agg(count(lit(1)).as("support"))
    t.crossJoin(broadcast(nb))
      .select(col("b1"), col("b2"), col("b3"), col("support"),
        expr("(1000 * support) div n").as("support_permille"))
      .orderBy(col("support").desc, col("b1"), col("b2"), col("b3"))
      .limit(TripleTopK)
  }

  val brandTriplesSql: String =
    s"""WITH bk AS (
       |  SELECT DISTINCT l_orderkey AS o, p_brand AS b
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |nb AS (SELECT count(DISTINCT o)::BIGINT AS n FROM bk),
       |t AS (
       |  SELECT a.b AS b1, c.b AS b2, d.b AS b3, count(*)::BIGINT AS support
       |  FROM bk a
       |  JOIN bk c ON a.o = c.o AND a.b < c.b
       |  JOIN bk d ON c.o = d.o AND c.b < d.b
       |  GROUP BY 1, 2, 3)
       |SELECT b1, b2, b3, support,
       |  ((1000 * support) // n)::BIGINT AS support_permille
       |FROM t, nb
       |ORDER BY support DESC, b1, b2, b3 LIMIT $TripleTopK""".stripMargin

  // ---- q114: item co-occurrence lift ---------------------------------

  val CoocTopK = 20

  /** Item-affinity mining over the event stream — "users who touched
    * item i also touched j", scored by LIFT in exact integer per-mille
    * (`1000·n_ij·U div (n_i·n_j)` — lift is a ratio of counts, so no
    * float ever crosses an engine boundary). The item is the catalog
    * key inside `events.props` (regexp-extracted JSON — no JSON
    * extension dependency in either engine).
    *
    * Scale shape: the input collapses to DISTINCT (user, item) FIRST —
    * the raw event multiplicity never reaches the pair join — then the
    * pair generation is a self-join co-partitioned on `user_id` (both
    * sides the same table, one exchange) with `item_a < item_b`
    * halving the output; per-user work is bounded by the catalog
    * (≤ |items|²/2 pairs per user), the guard a real deployment sizes
    * with a heavy-user cap (q52's per-key cap composes here). Final
    * top-K by support is TakeOrderedAndProject. */
  def itemCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ui = table(spark, dir, "events")
      .select(col("user_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("item"))
      .filter(col("item") =!= "")
      .select(col("user_id"), col("item").cast("long").as("item"))
      .distinct()
    val nUsers = ui.select("user_id").distinct().count()
    val itemN = ui.groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = ui.as("a")
      .join(ui.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(itemN.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n_item", "n_a"), "item_a")
      .join(itemN.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n_item", "n_b"), "item_b")
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"), col("n_b"),
        expr(s"(1000 * n_ab * ${nUsers}L) div (n_a * n_b)").as("lift_pm"))
      .orderBy(col("n_ab").desc, col("item_a"), col("item_b"))
      .limit(CoocTopK)
  }

  val itemCooccurrenceSql: String =
    s"""WITH ui AS (
       |  SELECT DISTINCT user_id,
       |    regexp_extract(props, '"k": (\\d+)', 1)::BIGINT AS item
       |  FROM events
       |  WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''),
       |u AS (SELECT count(DISTINCT user_id)::BIGINT AS n_users FROM ui),
       |i AS (SELECT item, count(*)::BIGINT AS n_item FROM ui GROUP BY item),
       |p AS (
       |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n_ab
       |  FROM ui a JOIN ui b
       |    ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2)
       |SELECT item_a, item_b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
       |  ((1000 * n_ab * u.n_users) // (ia.n_item * ib.n_item))::BIGINT
       |    AS lift_pm
       |FROM p JOIN i ia ON p.item_a = ia.item
       |       JOIN i ib ON p.item_b = ib.item
       |       CROSS JOIN u
       |ORDER BY n_ab DESC, item_a, item_b LIMIT $CoocTopK""".stripMargin

  // ---- q116: triangle count / clustering coefficient -----------------

  /** Backbone size: the graph keeps its [[TriEdges]] strongest
    * co-occurrence edges (deterministic (support desc, a, b) cutoff),
    * the standard sparsification before exact triangle counting — edge
    * selection scans the corpus once, everything after is bounded by
    * the backbone, whatever the corpus size. */
  val TriEdges = 500

  /** Write-once persisted co-purchase BACKBONE (the top-[[TriEdges]]
    * item-pair edges by shared-user support) — the structure-audit
    * family's detector-economics fix, same move as the MinHash pair
    * store: q116/q254/q283/q286/q291/q313 each re-derived the backbone
    * from the events corpus (distinct (user, item) -> pair self-join ->
    * top-E) once per query; now ONE build per corpus generation
    * persists the E-row edge table under the full
    * [[graft.sources.IndexStore]] lifecycle and every member reads it.
    * Returns the catalog table name. */
  def ensureBackboneStore(spark: SparkSession, dir: String): String =
    GraphQueries.synchronized {
      import graft.sources.IndexStore
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/events.parquet"))
      val name = s"backbone_${dirTag}_$fpTag"
      if (!spark.catalog.tableExists(name)) {
        val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
        val dest = new java.io.File(storeRoot, s"graft_backbone_${dirTag}_$fpTag")
        IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
          val ui = table(spark, dir, "events")
            .select(col("user_id"),
              regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("item"))
            .filter(col("item") =!= "")
            .select(col("user_id"), col("item").cast("long").as("item"))
            .distinct()
          ui.as("a")
            .join(ui.as("b"), col("a.user_id") === col("b.user_id") &&
              col("a.item") < col("b.item"))
            .groupBy(col("a.item").as("a"), col("b.item").as("b"))
            .agg(count(lit(1)).as("n_ab"))
            .orderBy(col("n_ab").desc, col("a"), col("b"))
            .limit(TriEdges)
            .select("a", "b")
            .coalesce(1).write.mode("overwrite").parquet(staging.getPath)
        }
        val lt = org.apache.spark.sql.types.LongType
        val schema = org.apache.spark.sql.types.StructType(
          Seq("a", "b").map(org.apache.spark.sql.types.StructField(_, lt)))
        IndexStore.registerParquet(spark, name, dest.getPath, schema)
        IndexStore.cleanupSuperseded(spark, storeRoot,
          s"graft_backbone_${dirTag}_", dest.getName,
          s"backbone_${dirTag}_", name)
      }
      name
    }

  /** The stored backbone's edge list (a < b). */
  def backboneEdges(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensureBackboneStore(spark, dir)).select("a", "b")

  /** Exact triangle count + global clustering coefficient over the
    * item co-occurrence backbone: distinct (user, item) collapse →
    * pair supports (the q114 construction) → top-[[TriEdges]] edges →
    * the canonical oriented 3-way self-join (edges carry `a < b`, so
    * each triangle `a<b<c` is produced exactly once) — at backbone
    * size the joins broadcast; wedges = Σ C(deg, 2) in exact integer
    * math, clustering = `3000·T div wedges` per-mille. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val edges = backboneEdges(spark, dir)
      .persist()
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e2.a") === col("e1.b"))
      .join(edges.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = edges.select(col("a").as("v"))
      .union(edges.select(col("b")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(d * (d - 1)) div 2")).as("wedges"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val out = wedges.crossJoin(nEdges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("wedges"),
        expr("(3000 * n_triangles) div wedges").as("clustering_pm"))
    val result = out.localCheckpoint(true)
    edges.unpersist(blocking = false)
    result
  }

  val triangleCountSql: String =
    s"""WITH ui AS (
       |  SELECT DISTINCT user_id,
       |    regexp_extract(props, '"k": (\\d+)', 1)::BIGINT AS item
       |  FROM events
       |  WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''),
       |p AS (
       |  SELECT a.item AS a, b.item AS b, count(*)::BIGINT AS n_ab
       |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2),
       |e AS (SELECT a, b FROM p ORDER BY n_ab DESC, a, b LIMIT $TriEdges),
       |tri AS (
       |  SELECT count(*)::BIGINT AS n_triangles
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |deg AS (
       |  SELECT v, count(*)::BIGINT AS d FROM (
       |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
       |w AS (
       |  SELECT count(*)::BIGINT AS n_nodes,
       |    sum((d * (d - 1)) // 2)::BIGINT AS wedges
       |  FROM deg),
       |ne AS (SELECT count(*)::BIGINT AS n_edges FROM e)
       |SELECT n_nodes, n_edges, n_triangles, wedges,
       |  ((3000 * n_triangles) // wedges)::BIGINT AS clustering_pm
       |FROM w CROSS JOIN ne CROSS JOIN tri""".stripMargin

  // ---- q283: local clustering coefficients ----------------------------

  /** WHERE does the cohesion live? — q116 publishes ONE global
    * clustering number; this publishes the per-node local coefficient
    * `cc(v) = 2·t(v) / (d(v)·(d(v)−1))` over the same
    * top-[[TriEdges]] co-purchase backbone, the node-level diagnostic
    * behind community seeding and role discovery (a high-degree node
    * with LOW local cc is a broker bridging communities; high cc means
    * its neighborhood is a clique — complementary to q228's k-core
    * and q254's assortativity, which read the same graph). Triangles
    * are enumerated once in canonical orientation (a < b < c via the
    * q116 three-way join) and credited to all three corners with one
    * explode; degree-1 nodes publish cc = 0 with their degree visible
    * (no division blow-up).
    *
    * Exact integers: triangle counts and degrees are counts; the
    * coefficient is floor per-mille. Scale shape: q116's backbone
    * economics (corpus scan → pair supports → top-E edges), then the
    * oriented triangle join and two bounded aggregates over the
    * E-row edge table. */
  def localClustering(spark: SparkSession, dir: String): DataFrame = {
    val edges = backboneEdges(spark, dir)
      .persist()
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e2.a") === col("e1.b"))
      .join(edges.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b")))
        .as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    val deg = edges.select(col("a").as("v"))
      .union(edges.select(col("b")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val out = deg.join(tri, Seq("v"), "left")
      .na.fill(0L, Seq("t"))
      .select(col("v").as("node"), col("d").as("degree"),
        col("t").as("triangles"),
        when(col("d") >= 2,
          expr("(2000 * t) div (d * (d - 1))")).otherwise(0L)
          .as("local_cc_pm"))
      .orderBy("node")
    val result = out.localCheckpoint(true)
    edges.unpersist(blocking = false)
    result
  }

  val localClusteringSql: String =
    s"""WITH ui AS (
       |  SELECT DISTINCT user_id,
       |    regexp_extract(props, '"k": (\\d+)', 1)::BIGINT AS item
       |  FROM events
       |  WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''),
       |p AS (
       |  SELECT a.item AS a, b.item AS b, count(*)::BIGINT AS n_ab
       |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2),
       |e AS (SELECT a, b FROM p ORDER BY n_ab DESC, a, b LIMIT $TriEdges),
       |corners AS (
       |  SELECT e1.a AS v FROM e e1 JOIN e e2 ON e2.a = e1.b
       |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
       |  UNION ALL
       |  SELECT e1.b FROM e e1 JOIN e e2 ON e2.a = e1.b
       |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
       |  UNION ALL
       |  SELECT e2.b FROM e e1 JOIN e e2 ON e2.a = e1.b
       |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |t AS (SELECT v, count(*)::BIGINT AS t FROM corners GROUP BY v),
       |deg AS (
       |  SELECT v, count(*)::BIGINT AS d FROM (
       |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v)
       |SELECT deg.v AS node, deg.d AS degree,
       |  coalesce(t.t, 0)::BIGINT AS triangles,
       |  CASE WHEN deg.d >= 2
       |       THEN (2000 * coalesce(t.t, 0)) // (deg.d * (deg.d - 1))
       |       ELSE 0 END::BIGINT AS local_cc_pm
       |FROM deg LEFT JOIN t USING (v)
       |ORDER BY node""".stripMargin

  // ---- q286: neighborhood function (HyperBall) -------------------------

  val NfMaxH = 3
  val NfLgK = 12
  /** q48's bound convention: 5% ≈ 3σ at lgK 12 (rse 1.63%). */
  val NfRelErrPm = 50L

  /** How fast do the BALLS grow? — the neighborhood function
    * `N(h) = Σ_v |ball(v, h)|` of the co-purchase backbone, the curve
    * behind effective-diameter and spid diagnostics (Palmer et al.
    * ANF, Boldi et al. HyperBall): at 100 TB the per-node balls are
    * computed as mergeable HLL sketches — one |V|-row sketch table,
    * each round `sketch_v ← sketch_v ∪ ⋃_{v→w} sketch_w` (one
    * edges⋈sketches join + one union aggregate; never the reach-pair
    * table the exact form needs). The gate runs BOTH: the exact
    * distinct-reach iteration (bounded here — the backbone is E ≤ 500
    * edges; at corpus scale exact is the thing you CANNOT afford,
    * which is the operator's reason to exist) and the sketch path,
    * publishing exact counts plus the q48-convention boolean that the
    * sketch landed within [[NfRelErrPm]]‰ — the estimate itself stays
    * out of the row (oracle-irreproducible), exactly like q48/q59.
    *
    * Output per hop: exact reach pairs, growth vs the previous hop in
    * floor per-mille, and the sketch-accuracy boolean. */
  def neighborhoodFunction(spark: SparkSession, dir: String): DataFrame = {
    val e = backboneEdges(spark, dir)
    val arcs = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b"), col("a"))).distinct().persist()
    val nodes = arcs.select(col("src").as("v")).distinct().persist()
    var reach = nodes.select(col("v"), col("v").as("node"))
      .localCheckpoint(true)
    var sk = nodes.groupBy("v")
      .agg(hll_sketch_agg(col("v"), lit(NfLgK)).as("sk"))
      .localCheckpoint(true)
    def measure(h: Int): (Long, Long, Long) = {
      val exact = reach.count()
      val est = sk.agg(sum(hll_sketch_estimate(col("sk")))).head.getLong(0)
      (h.toLong, exact, est)
    }
    var rows = Vector(measure(0))
    for (h <- 1 to NfMaxH) {
      reach = reach
        .union(reach.join(arcs, col("node") === col("src"))
          .select(col("v"), col("dst").as("node")))
        .distinct().localCheckpoint(true)
      sk = sk
        .unionByName(arcs.join(sk, col("dst") === col("v"))
          .select(col("src").as("v"), col("sk")))
        .groupBy("v").agg(hll_union_agg(col("sk")).as("sk"))
        .localCheckpoint(true)
      rows :+= measure(h)
    }
    arcs.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    // max(prev, 1): an empty backbone yields reach 0 at every h — keep
    // the degenerate case a 0-growth row, not an ArithmeticException
    // (oracle mirrors with greatest(lag(...), 1))
    val out = rows.zip(0L +: rows.map(_._2)).map {
      case ((h, exact, est), prev) =>
        (h, exact,
          if (h == 0) 1000L else 1000L * exact / math.max(prev, 1L),
          1000L * math.abs(est - exact) <= NfRelErrPm * exact)
    }
    spark.createDataFrame(out)
      .toDF("h", "reach_pairs", "growth_pm", "bound_ok")
      .orderBy("h")
  }

  val neighborhoodFunctionSql: String =
    s"""WITH RECURSIVE ui AS (
       |  SELECT DISTINCT user_id,
       |    regexp_extract(props, '"k": (\\d+)', 1)::BIGINT AS item
       |  FROM events
       |  WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''),
       |p AS (
       |  SELECT a.item AS a, b.item AS b, count(*)::BIGINT AS n_ab
       |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2),
       |e AS (SELECT a, b FROM p ORDER BY n_ab DESC, a, b LIMIT $TriEdges),
       |arcs AS (
       |  SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
       |nodes AS (SELECT DISTINCT src AS v FROM arcs),
       |walk(v, node, h) AS (
       |  SELECT v, v, 0 FROM nodes
       |  UNION
       |  SELECT w.v, a.dst, w.h + 1
       |  FROM walk w JOIN arcs a ON a.src = w.node
       |  WHERE w.h < $NfMaxH),
       |d AS (SELECT v, node, min(h) AS d FROM walk GROUP BY 1, 2),
       |nf AS (
       |  SELECT g.h::BIGINT AS h,
       |    (SELECT count(*) FROM d WHERE d.d <= g.h)::BIGINT
       |      AS reach_pairs
       |  FROM generate_series(0, $NfMaxH) g(h))
       |SELECT h, reach_pairs,
       |  CASE WHEN h = 0 THEN 1000
       |       ELSE (1000 * reach_pairs) //
       |         greatest(lag(reach_pairs) OVER (ORDER BY h), 1)
       |       END::BIGINT
       |    AS growth_pm,
       |  TRUE AS bound_ok
       |FROM nf ORDER BY h""".stripMargin

  // ---- q291: greedy maximal matching ------------------------------------

  /** Proposal rounds — mutual-min matching halves the live graph
    * per round in the worst case; 12 covers the backbone with margin
    * and the spec asserts MAXIMALITY (zero remaining live edges),
    * so sufficiency is tested, not assumed. */
  val MatchRounds = 12

  /** Graph COARSENING's first move — a deterministic greedy maximal
    * matching over the co-purchase backbone
    * ([[graft.operators.Matching]]: mutual-minimum proposals, id tie
    * break, O(log n) rounds): the contraction step multilevel
    * partitioners (METIS lineage) build their hierarchy from, and a
    * load-balancing primitive in its own right (matched pairs merge
    * into super-nodes). Publishes the convergence table — pairs
    * matched per round, cumulative, and nodes still unmatched — the
    * curve that shows the halving actually happening. */
  def greedyMatching(spark: SparkSession, dir: String): DataFrame = {
    val e = backboneEdges(spark, dir)
    val arcs = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b"), col("a"))).distinct()
    graft.operators.Matching.rounds(arcs, MatchRounds).orderBy("round")
  }

  val greedyMatchingSql: String = {
    import graft.operators.Matching
    val roundCtes = (1 to MatchRounds)
      .map(k => Matching.roundSql(k, s"un_$k", s"m_$k")).mkString(",\n")
    val stats = (1 to MatchRounds).map { k =>
      s"""SELECT $k::BIGINT AS round,
         |  (SELECT count(*) FROM new_$k)::BIGINT AS new_pairs,
         |  (SELECT count(*) FROM m_${k + 1})::BIGINT AS cum_pairs,
         |  (SELECT count(*) FROM un_${k + 1})::BIGINT AS unmatched_nodes"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ui AS (
       |  SELECT DISTINCT user_id,
       |    regexp_extract(props, '"k": (\\d+)', 1)::BIGINT AS item
       |  FROM events
       |  WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''),
       |p AS (
       |  SELECT a.item AS a, b.item AS b, count(*)::BIGINT AS n_ab
       |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2),
       |e AS (SELECT a, b FROM p ORDER BY n_ab DESC, a, b LIMIT $TriEdges),
       |arcs AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
       |un_1 AS MATERIALIZED (SELECT DISTINCT src AS v FROM arcs),
       |m_1 AS (SELECT NULL::BIGINT AS a, NULL::BIGINT AS b WHERE 1 = 0),
       |$roundCtes
       |SELECT * FROM (
       |$stats)
       |ORDER BY round""".stripMargin
  }

  // ---- q292: stored graph index (backbone + WL colors at rest) -----------

  /** Write-once graph store: the q282 purchase graph's undirected
    * edges DENORMALIZED with both endpoints' final-round WL colors —
    * one table, `(a, b, color_a, color_b)` — under the q184/q189
    * [[graft.sources.IndexStore]] lifecycle (content fingerprint,
    * staging + atomic publish, superseded-generation cleanup).
    * Returns the store path. */
  def ensureGraphStore(spark: SparkSession, dir: String): String = {
    import graft.sources.IndexStore
    GraphQueries.synchronized {
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(
        new java.io.File(s"$dir/orders.parquet")) + "-" +
        IndexStore.contentTag(new java.io.File(s"$dir/lineitem.parquet"))
      val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
      val dest = new java.io.File(storeRoot,
        s"graft_graph_store_${dirTag}_$fpTag")
      IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
        // same graph as q282: the customer↔supplier purchase graph
        // with packed-long ids (undirected edge = one (c, s) pair)
        val e = table(spark, dir, "orders")
          .select("o_orderkey", "o_custkey")
          .join(table(spark, dir, "lineitem")
            .select("l_orderkey", "l_suppkey"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2L).as("a"),
            (col("l_suppkey") * 2L + 1L).as("b"))
          .distinct()
          .persist()
        val arcs = e.select(col("a").as("src"), col("b").as("dst"))
          .union(e.select(col("b"), col("a"))).distinct().persist()
        var colors = arcs.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
          .select(col("node"), col("deg").cast("string").as("color"))
          .localCheckpoint(true)
        for (_ <- 1 to WlRounds) {
          val nb = arcs.join(colors, col("dst") === col("node"))
            .select(col("src"), col("color").as("ncolor"))
            .groupBy("src")
            .agg(sort_array(collect_list("ncolor")).as("ns"))
          colors = nb.join(colors, col("src") === col("node"))
            .select(col("src").as("node"),
              md5(concat(col("color"), lit(":"),
                concat_ws(",", col("ns")))).as("color"))
            .localCheckpoint(true)
        }
        val ca = colors.toDF("a", "color_a")
        val cb = colors.toDF("b", "color_b")
        e.join(ca, "a").join(cb, "b")
          .select("a", "b", "color_a", "color_b")
          .write.mode("overwrite").parquet(staging.getPath)
        e.unpersist(blocking = false)
        arcs.unpersist(blocking = false)
      }
      IndexStore.cleanupSuperseded(spark, storeRoot,
        s"graft_graph_store_${dirTag}_", dest.getName,
        s"graft_graph_store_${dirTag}_", dest.getName)
      dest.getPath
    }
  }

  /** Serve the q282-grade structural fingerprint entirely AT REST —
    * the graph family's entry in the stored-index story (q184 dedup,
    * q185 ANN, q189 sketches, q194 BM25, q213 BPE… and now the
    * graph): the denormalized store alone answers node/class/
    * singleton counts AND the cross-class edge share (the boundary
    * mass between structural roles — cheap here precisely because the
    * store carries both endpoint colors on every edge; recomputing it
    * from events would re-run the whole WL iteration). The spec
    * asserts the serving plan scans the STORE ONLY — zero events
    * reads — and that the class summary equals q282's final round
    * row-for-row (recompute equivalence, the q184 ≡ q81
    * discipline). */
  def graphStore(spark: SparkSession, dir: String): DataFrame = {
    val st = spark.read.parquet(ensureGraphStore(spark, dir))
    val nodes = st.select(col("a").as("node"), col("color_a").as("color"))
      .unionByName(st.select(col("b").as("node"),
        col("color_b").as("color")))
      .distinct()
    val classes = nodes.groupBy("color").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_classes"), sum("sz").as("n_nodes"),
        max("sz").as("max_class_size"),
        sum(when(col("sz") === 1L, 1L).otherwise(0L)).as("n_singletons"))
    val edges = st.agg(count(lit(1)).as("n_edges"),
      sum(when(col("color_a") =!= col("color_b"), 1L).otherwise(0L))
        .as("cross_class_edges"))
    classes.crossJoin(broadcast(edges))
      .select(col("n_nodes"), col("n_classes"), col("max_class_size"),
        col("n_singletons"), col("n_edges"), col("cross_class_edges"),
        expr("(1000 * cross_class_edges) div n_edges")
          .as("cross_class_pm"))
  }

  val graphStoreSql: String = {
    def refine(prev: String, next: String) =
      s"""$next AS MATERIALIZED (
         |  SELECT e0.src AS node,
         |    md5(c.color || ':' ||
         |      array_to_string(list_sort(list(cn.color)), ',')) AS color
         |  FROM e0
         |  JOIN $prev cn ON cn.node = e0.dst
         |  JOIN $prev c ON c.node = e0.src
         |  GROUP BY e0.src, c.color)""".stripMargin
    s"""WITH p AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e0 AS MATERIALIZED (
       |  SELECT c AS src, s AS dst FROM p
       |  UNION ALL SELECT s, c FROM p),
       |c0 AS MATERIALIZED (
       |  SELECT src AS node, count(*)::VARCHAR AS color
       |  FROM e0 GROUP BY src),
       |${refine("c0", "c1")},
       |${refine("c1", "c2")},
       |cls AS (
       |  SELECT count(*)::BIGINT AS n_classes,
       |    sum(sz)::BIGINT AS n_nodes,
       |    max(sz)::BIGINT AS max_class_size,
       |    sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons
       |  FROM (SELECT color, count(*)::BIGINT AS sz FROM c2 GROUP BY 1)),
       |ed AS (
       |  SELECT count(*)::BIGINT AS n_edges,
       |    sum(CASE WHEN ca.color <> cb.color THEN 1 ELSE 0 END)::BIGINT
       |      AS cross_class_edges
       |  FROM p JOIN c2 ca ON ca.node = p.c JOIN c2 cb ON cb.node = p.s)
       |SELECT n_nodes, n_classes, max_class_size, n_singletons,
       |  n_edges, cross_class_edges,
       |  ((1000 * cross_class_edges) // n_edges)::BIGINT
       |    AS cross_class_pm
       |FROM cls, ed""".stripMargin
  }

  // ---- q254: degree assortativity of the co-purchase backbone --------

  /** Do HUBS connect to hubs, or to leaves? — degree assortativity,
    * the one-number structural diagnostic (Newman's r) behind
    * "is this graph resilient or hub-and-spoke": positive means a
    * rich-club core (remove a hub, the core survives), negative a
    * star topology (remove a hub, its leaves orphan). Over the same
    * top-[[TriEdges]] co-purchase backbone q116 counts triangles on,
    * so the two structure audits read the same graph.
    *
    * Exact with NO square root: each undirected edge contributes both
    * orientations (x, y) = (deg a, deg b) and (deg b, deg a), making
    * the two marginal distributions IDENTICAL — Pearson's denominator
    * `√(Var x · Var y)` collapses to the single integer
    * `M·Σx² − (Σx)²`, and r is one signed floor milli ratio
    * (the q239 peel). Bounded: d ≤ 2·E, all moments ≤ 8·E³ ≈ 10⁹ at
    * E = $TriEdges.
    *
    * Scale shape: the backbone construction is q116's (corpus scan →
    * co-purchase pairs → top-E edges); degrees and moments are
    * aggregates over the bounded edge table. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = backboneEdges(spark, dir)
    val deg = edges.select(col("a").as("v"))
      .union(edges.select(col("b")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val pts = edges
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"),
        Seq("a"))
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"),
        Seq("b"))
      .select(col("da").as("x"), col("db").as("y"))
      .union(edges
        .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"),
          Seq("a"))
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"),
          Seq("b"))
        .select(col("db").as("x"), col("da").as("y")))
    pts.agg(count(lit(1)).as("m"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select((col("m") / 2).cast("long").as("n_edges"), col("m"),
        col("sx"), col("sxx"), col("sxy"),
        expr("""CASE WHEN m * sxy - sx * sx >= 0
                THEN (1000 * (m * sxy - sx * sx))
                     div greatest(m * sxx - sx * sx, 1)
                ELSE -((1000 * (sx * sx - m * sxy))
                       div greatest(m * sxx - sx * sx, 1))
                END""").as("assortativity_milli"))
  }

  val degreeAssortativitySql: String =
    s"""WITH ui AS (
       |  SELECT DISTINCT user_id,
       |    regexp_extract(props, '"k": (\\d+)', 1)::BIGINT AS item
       |  FROM events
       |  WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''),
       |p AS (
       |  SELECT a.item AS a, b.item AS b, count(*)::BIGINT AS n_ab
       |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2),
       |e AS (SELECT a, b FROM p ORDER BY n_ab DESC, a, b LIMIT $TriEdges),
       |deg AS (
       |  SELECT v, count(*)::BIGINT AS d FROM (
       |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
       |pts AS (
       |  SELECT da.d AS x, db.d AS y
       |  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
       |  UNION ALL
       |  SELECT db.d AS x, da.d AS y
       |  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
       |agg AS (
       |  SELECT count(*)::BIGINT AS m, sum(x)::BIGINT AS sx,
       |    sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
       |  FROM pts)
       |SELECT (m // 2)::BIGINT AS n_edges, m, sx, sxx, sxy,
       |  (CASE WHEN m * sxy - sx * sx >= 0
       |    THEN (1000 * (m * sxy - sx * sx))
       |      // greatest(m * sxx - sx * sx, 1)
       |    ELSE -((1000 * (sx * sx - m * sxy))
       |      // greatest(m * sxx - sx * sx, 1))
       |   END)::BIGINT AS assortativity_milli
       |FROM agg""".stripMargin

  // ---- q142: long-chain components (star contraction) ----------------

  /** Chain block size: consecutive event ids are linked within blocks
    * of this many nodes, so every component is a PATH of diameter
    * ~[[ChainBlock]] — 5× min-label's 50-round iteration cap, while
    * keeping the O(log diameter) alternation count (each round is
    * several tiny-stage Spark jobs; doubling the block buys one more
    * round of pure scheduler overhead at bench scale, no better a
    * demonstration). */
  val ChainBlock = 256L

  /** Alternating-round cap that certifies O(log n) convergence: star
    * contraction (Kiveris et al., SoCC'14) halves star depth per
    * alternation, so a [[ChainBlock]]-hop path must finish in a small
    * multiple of log₂(block) rounds — 8 for 256; the +6 headroom
    * covers the final fixpoint-detection pass and small-block tails.
    * Min-label propagation on the same graph would need ~[[ChainBlock]]
    * rounds (one hop per round) — the regime q56's near-clique default
    * explicitly does NOT cover. */
  val ChainRoundBound: Int = 2 * 8 + 6

  /** Connected components on a DELIBERATELY long-diameter graph — the
    * adversarial case for q56's min-label default and the end-to-end
    * gate for [[graft.operators.ConnectedComponents.componentsStar]]:
    * event ids (dense 0..N−1 in the corpus) are linked `i → i+1`
    * inside [[ChainBlock]]-sized blocks, giving ~N/256 path
    * components of diameter ~255 — min-label would need ~255
    * propagation rounds (it is capped at 50 and would not even
    * converge); star contraction finishes in ≤ [[ChainRoundBound]]
    * alternations, and the output CARRIES that claim as a
    * hash-gated boolean (`rounds_logn_ok`, oracle TRUE — the q22/q35
    * within-bound pattern).
    *
    * The oracle is closed-form (blocks of a dense id space are the
    * components: comp = block min, size = block population — computed
    * from `event_id div 256` alone), so the whole distributed
    * fixpoint is value-checked, not just shape-checked.
    *
    * Scale shape: edge construction is a projection + filter (no
    * window, no self-join — density is a given of the id scheme);
    * the per-round star phases are groupBy-min + equi-join on node id
    * with `localCheckpoint` lineage cuts, per the operator scaladoc.
    * The one driver scalar (`max(event_id)`) is a 1-row aggregate. */
  def chainComponents(spark: SparkSession, dir: String): DataFrame = {
    // Child session with few shuffle partitions: the contraction runs
    // ~log₂(block) rounds of tiny stages over a |V|-row edge list, so
    // wall-clock is STAGE COUNT × task overhead, not data — partition
    // count sizes to edge volume, as streaming state partitions stay
    // few whatever the slot count (QueryUtil.streamStatePartitions:
    // each state store pays a fixed commit per batch); a 10⁸-edge
    // deployment sizes it up.
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    // AQE off for the loop: adaptive execution materializes and
    // re-plans per exchange, adding a scheduling barrier to every one
    // of the ~3 shuffles × ~9 rounds — measured ~25% of q142's wall
    // at bench scale for decisions that cannot improve KB-size stages.
    // A 100 TB deployment keeps AQE on (and partitions up): its early
    // rounds move real data and benefit from runtime coalescing.
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val ids = table(s, dir, "events").select(col("event_id"))
    val maxId = ids.agg(max("event_id")).head().getLong(0)
    val edges = ids
      .filter(col("event_id") % ChainBlock =!= (ChainBlock - 1L) &&
        col("event_id") =!= maxId)
      .select(col("event_id").as("src"), (col("event_id") + 1L).as("dst"))
    val (labels, rounds) =
      graft.operators.ConnectedComponents.componentsStarWithRounds(
        edges, "src", "dst", maxIter = 60)
    labels.groupBy("comp").agg(count(lit(1)).as("n_nodes"))
      .select(col("comp"), col("n_nodes"),
        lit(rounds <= ChainRoundBound).as("rounds_logn_ok"))
      .orderBy("comp")
  }

  /** Blocks with a single node have no edge and (per the operator
    * contract: every node APPEARING IN AN EDGE) drop out — mirrored by
    * `HAVING count(*) >= 2`. */
  val chainComponentsSql: String =
    s"""SELECT min(event_id)::BIGINT AS comp, count(*)::BIGINT AS n_nodes,
       |  TRUE AS rounds_logn_ok
       |FROM events
       |GROUP BY event_id // $ChainBlock
       |HAVING count(*) >= 2
       |ORDER BY comp""".stripMargin

  // ---- q171: co-occurrence recommender hit@k eval ----------------------

  /** Temporal train/test split instant: 2024-01-25T00:00:00Z — five
    * days before the fixture's last event (the q126 pinned-constant
    * convention; a production run stamps its own cutoff). */
  val RecCutoffUs = 1706140800000000L

  /** The offline evaluation loop of an item-to-item recommender
    * ("users who touched i also touched j", q114's signal) — the
    * leave-future-out protocol every recsys paper reports: train
    * co-occurrence counts STRICTLY BEFORE a cutoff, test on each
    * user's FIRST post-cutoff touch of an item NOT in their history
    * (otherwise the "prediction" is a replay), rank candidates by
    * Σ_{i∈history} n(i, j) over integer counts with (score desc, item)
    * tie-break, and report hit@1/5/10 in exact integers. No float
    * anywhere; the protocol itself (split, novelty filter, tie-break)
    * is what the gate pins cross-engine.
    *
    * Scale shape: training collapses to DISTINCT (user, item) before
    * the self-join (q114's discipline); scoring joins each user's
    * history against the pair table on item — work ∝ Σ|history|·fanout,
    * bounded by the catalog; the per-user top-10 is a WindowGroupLimit
    * window; nothing quadratic in users. */
  def recEval(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val ev = eventsTsUs(spark, dir)
      .select(col("user_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("item0"),
        col("ts_us"), col("event_id"))
      .filter(col("item0") =!= "")
      .select(col("user_id"), col("item0").cast("long").as("item"),
        col("ts_us"), col("event_id"))
    val train = ev.filter(col("ts_us") < RecCutoffUs)
      .select("user_id", "item").distinct()
    val pairs = train.as("a")
      .join(train.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n"))
    // test target: first post-cutoff touch of a NOVEL item per user
    val novelPost = ev.filter(col("ts_us") >= RecCutoffUs)
      .join(train.withColumnRenamed("item", "item"), Seq("user_id", "item"),
        "left_anti")
    val target = novelPost
      .withColumn("rn", row_number().over(
        w.partitionBy("user_id").orderBy("ts_us", "event_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("item").as("target"))
    // candidate scores: sum of co-counts from the user's history,
    // history items themselves excluded
    val scores = train.join(pairs,
        train("item") === pairs("item_a"))
      .groupBy(col("user_id"), col("item_b").as("cand"))
      .agg(sum(col("n")).as("s"))
      .join(train.withColumnRenamed("item", "cand"),
        Seq("user_id", "cand"), "left_anti")
    val ranked = scores
      .withColumn("rk", row_number().over(
        w.partitionBy("user_id").orderBy(col("s").desc, col("cand"))))
      .filter(col("rk") <= 10)
    target.join(ranked, Seq("user_id"), "left")
      .groupBy()
      .agg(countDistinct(col("user_id")).as("n_test_users"),
        sum(when(col("cand") === col("target") && col("rk") <= 1, 1L)
          .otherwise(0L)).as("hits_at_1"),
        sum(when(col("cand") === col("target") && col("rk") <= 5, 1L)
          .otherwise(0L)).as("hits_at_5"),
        sum(when(col("cand") === col("target") && col("rk") <= 10, 1L)
          .otherwise(0L)).as("hits_at_10"))
      // greatest(…, 1): an empty post-cutoff test cohort must yield 0,
      // not NULL (Spark) / engine-dependent div-by-zero (DuckDB)
      .withColumn("hit10_pm",
        expr("(1000 * hits_at_10) div greatest(n_test_users, 1L)"))
  }

  val recEvalSql: String =
    s"""WITH ev AS (
       |  SELECT user_id,
       |    regexp_extract(props, '"k": (\\d+)', 1)::BIGINT AS item,
       |    epoch_us(ts::TIMESTAMP) AS ts_us, event_id
       |  FROM events WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''),
       |train AS (
       |  SELECT DISTINCT user_id, item FROM ev WHERE ts_us < $RecCutoffUs),
       |pairs AS (
       |  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS n
       |  FROM train a JOIN train b
       |    ON a.user_id = b.user_id AND a.item <> b.item
       |  GROUP BY 1, 2),
       |np AS (
       |  SELECT e.user_id, e.item, e.ts_us, e.event_id
       |  FROM ev e LEFT JOIN train t
       |    ON t.user_id = e.user_id AND t.item = e.item
       |  WHERE e.ts_us >= $RecCutoffUs AND t.item IS NULL),
       |tgt AS (
       |  SELECT user_id, item AS target FROM (
       |    SELECT user_id, item, row_number() OVER (
       |      PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
       |    FROM np) WHERE rn = 1),
       |sc AS (
       |  SELECT tr.user_id, p.item_b AS cand, sum(p.n)::BIGINT AS s
       |  FROM train tr JOIN pairs p ON p.item_a = tr.item
       |  GROUP BY 1, 2),
       |sc2 AS (
       |  SELECT sc.user_id, sc.cand, sc.s
       |  FROM sc LEFT JOIN train t
       |    ON t.user_id = sc.user_id AND t.item = sc.cand
       |  WHERE t.item IS NULL),
       |rk AS (
       |  SELECT user_id, cand, row_number() OVER (
       |    PARTITION BY user_id ORDER BY s DESC, cand) AS rk
       |  FROM sc2)
       |SELECT count(DISTINCT tgt.user_id)::BIGINT AS n_test_users,
       |  sum(CASE WHEN rk.cand = tgt.target AND rk.rk <= 1 THEN 1 ELSE 0 END
       |    )::BIGINT AS hits_at_1,
       |  sum(CASE WHEN rk.cand = tgt.target AND rk.rk <= 5 THEN 1 ELSE 0 END
       |    )::BIGINT AS hits_at_5,
       |  sum(CASE WHEN rk.cand = tgt.target AND rk.rk <= 10 THEN 1 ELSE 0 END
       |    )::BIGINT AS hits_at_10,
       |  ((1000 * sum(CASE WHEN rk.cand = tgt.target AND rk.rk <= 10
       |      THEN 1 ELSE 0 END)) // greatest(count(DISTINCT tgt.user_id), 1)
       |    )::BIGINT AS hit10_pm
       |FROM tgt LEFT JOIN rk ON rk.user_id = tgt.user_id AND rk.rk <= 10"""
      .stripMargin

  // ---- q268: HITS hubs & authorities ------------------------------------

  val HitsRounds = 2
  val HitsTopK = 20

  /** Two-sided authority on the purchase graph — q111 asks "which
    * suppliers have rank?" with PageRank's one-score model; HITS
    * ([[graft.operators.Hits]], Kleinberg 1999) answers the question a
    * procurement analyst (or a crawl-frontier scheduler scoring
    * seed-list pages vs content pages) actually has: which CUSTOMERS
    * have good taste (hubs — they buy from well-sourced suppliers) and
    * which SUPPLIERS are endorsed by discerning customers (authorities)
    * — each score defined in terms of the other. The directed edge set
    * is the customer→supplier arc of the q111 graph (HITS wants the
    * bipartite direction, not the symmetrized walk), packed-long node
    * ids as everywhere (`2·custkey` / `2·suppkey+1`).
    *
    * Integer-exact per the operator contract (L1-rescaled floor
    * arithmetic — bit-identical to the unrolled oracle CTEs); top-K per
    * role is TakeOrderedAndProject, never a global sort. */
  def hitsRanking(spark: SparkSession, dir: String): DataFrame = {
    val arcs = table(spark, dir, "orders").select("o_orderkey", "o_custkey")
      .join(table(spark, dir, "lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2L).as("src"),
        (col("l_suppkey") * 2L + 1L).as("dst"))
      .distinct()
    val scores = graft.operators.Hits.run(arcs, HitsRounds)
    def side(score: String, role: String) = scores
      .filter(col(score).isNotNull)
      .select(
        when(col("node") % 2L === 0L, concat(lit("C"), expr("node div 2")))
          .otherwise(concat(lit("S"), expr("node div 2"))).as("node"),
        lit(role).as("role"), col(score).as("score"))
      .orderBy(col("score").desc, col("node"))
      .limit(HitsTopK)
    side("hub", "hub").unionByName(side("authority", "authority"))
      .orderBy(col("role"), col("score").desc, col("node"))
  }

  // ---- q282: Weisfeiler-Lehman color refinement --------------------------

  val WlRounds = 2

  /** How much STRUCTURAL variety does the graph actually have? — 1-WL
    * color refinement (Weisfeiler & Leman 1968; the graph-isomorphism
    * primitive under graph kernels and the expressiveness ceiling of
    * message-passing GNNs): nodes start colored by degree, and each
    * round recolors every node by hashing (own color, SORTED multiset
    * of neighbor colors). The published table is the refinement
    * PROGRESS — per round, how many color classes exist, the largest
    * class, and how many nodes are already structurally unique
    * (singletons). Classes can only SPLIT round over round; a graph
    * whose class count saturates immediately is structurally bland
    * (near-regular), one that shatters to singletons carries strong
    * positional signal — the audit a GNN-feature or graph-dedup
    * pipeline reads before trusting WL-hash features.
    *
    * Determinism: colors are md5 hex strings of
    * `own:neighbor,neighbor,…` with neighbors sorted — identical in
    * both engines (the multiset is per-EDGE, so parallel arcs count
    * twice; this graph is simple). Scale shape: each round is one
    * edges⋈colors join (|E| rows, colors broadcast at bench sizes /
    * co-partitioned at scale) + a per-node sorted-list aggregate —
    * |V|-row tables shuffle, like every iterated graph operator
    * here. */
  def wlRefinement(spark: SparkSession, dir: String): DataFrame = {
    // spread the cached arcs (Bfs/LPA convention): the small-file arcs
    // store packs into 1-2 input splits, so an un-spread persist ran
    // every round's neighbor join ≤2-way parallel
    val arcs = purchaseArcs(spark, dir).repartition(col("src")).persist()
    var colors = arcs.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .select(col("node"), col("deg").cast("string").as("color"))
    def summary(round: Int, c: DataFrame) = c
      .groupBy("color").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_classes"), max("sz").as("max_class_size"),
        sum(when(col("sz") === 1L, 1L).otherwise(0L)).as("n_singletons"),
        sum("sz").as("n_nodes"))
      .select(lit(round.toLong).as("round"), col("n_nodes"),
        col("n_classes"), col("max_class_size"), col("n_singletons"))
    // eager per-round colors: each round references the previous colors
    // TWICE (neighbor join + own-color join) and every summary reads
    // them again — a lazy chain re-derives all earlier rounds per
    // reference (measured 13.8 s vs ~2 s). Checkpoints are |V|-row.
    colors = colors.localCheckpoint(true)
    var out = summary(0, colors)
    for (r <- 1 to WlRounds) {
      val nb = arcs.join(colors, col("dst") === col("node"))
        .select(col("src"), col("color").as("ncolor"))
        .groupBy("src")
        .agg(sort_array(collect_list("ncolor")).as("ns"))
      colors = nb.join(colors, col("src") === col("node"))
        .select(col("src").as("node"),
          md5(concat(col("color"), lit(":"),
            concat_ws(",", col("ns")))).as("color"))
        .localCheckpoint(true)
      out = out.unionByName(summary(r, colors))
    }
    val result = out.orderBy("round").localCheckpoint(true)
    arcs.unpersist(blocking = false)
    result
  }

  val wlRefinementSql: String = {
    def refine(prev: String, next: String) =
      s"""$next AS (
         |  SELECT e0.src AS node,
         |    md5(c.color || ':' ||
         |      array_to_string(list_sort(list(cn.color)), ',')) AS color
         |  FROM e0
         |  JOIN $prev cn ON cn.node = e0.dst
         |  JOIN $prev c ON c.node = e0.src
         |  GROUP BY e0.src, c.color)""".stripMargin
    def summary(round: Int, c: String) =
      s"""SELECT $round::BIGINT AS round, sum(sz)::BIGINT AS n_nodes,
         |  count(*)::BIGINT AS n_classes,
         |  max(sz)::BIGINT AS max_class_size,
         |  sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons
         |FROM (SELECT color, count(*)::BIGINT AS sz FROM $c GROUP BY 1)"""
        .stripMargin
    s"""WITH $arcsCtePrefix,
       |c0 AS (
       |  SELECT src AS node, count(*)::VARCHAR AS color
       |  FROM e0 GROUP BY src),
       |${refine("c0", "c1")},
       |${refine("c1", "c2")}
       |SELECT * FROM (
       |${summary(0, "c0")}
       |UNION ALL
       |${summary(1, "c1")}
       |UNION ALL
       |${summary(2, "c2")})
       |ORDER BY round""".stripMargin
  }

  val hitsRankingSql: String = {
    import graft.operators.Hits
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |a0 AS (
       |  SELECT dst, (${Hits.Scale} // greatest(
       |    (SELECT count(DISTINCT dst) FROM e), 1))::BIGINT AS score
       |  FROM (SELECT DISTINCT dst FROM e)),
       |h1 AS (${Hits.halfStepSql("a0", "dst", "src")}),
       |a1 AS (${Hits.halfStepSql("h1", "src", "dst")}),
       |h2 AS (${Hits.halfStepSql("a1", "dst", "src")}),
       |a2 AS (${Hits.halfStepSql("h2", "src", "dst")}),
       |hubs AS (
       |  SELECT 'C' || (src // 2)::VARCHAR AS node, 'hub' AS role, score
       |  FROM h2 ORDER BY score DESC, node LIMIT $HitsTopK),
       |auths AS (
       |  SELECT 'S' || (dst // 2)::VARCHAR AS node, 'authority' AS role,
       |    score
       |  FROM a2 ORDER BY score DESC, node LIMIT $HitsTopK)
       |SELECT * FROM (SELECT * FROM hubs UNION ALL SELECT * FROM auths)
       |ORDER BY role, score DESC, node""".stripMargin
  }

  // ---- q294: label-propagation communities ------------------------------

  /** Synchronous update rounds — fixed, the operator's determinism
    * contract (sync LPA may oscillate on bipartite structure; see
    * [[graft.operators.LabelPropagation]]). */
  val LpaRounds = 4

  /** Community detection on the purchase graph by label propagation —
    * the DENSE-substructure complement of q56/q142's connected
    * components: a component answers "any path?", a community answers
    * "which block does the majority of your trading pull you into?"
    * ([[graft.operators.LabelPropagation]]: majority vote per round,
    * min-label tie break, [[LpaRounds]] synchronous rounds). Publishes
    * one row per surviving community: member count and an id checksum
    * proving exact membership — the stratification table a sampler
    * reads ("one representative per community"). */
  def lpaCommunities(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LabelPropagation
      .run(purchaseArcs(spark, dir), LpaRounds)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), sum(col("node")).as("id_checksum"))
      .orderBy("community")

  val lpaCommunitiesSql: String = {
    val stages = (1 to LpaRounds)
      .map(i => s"l$i AS MATERIALIZED " +
        s"(${graft.operators.LabelPropagation.roundSql(s"l${i - 1}")})")
      .mkString(",\n")
    s"""WITH $arcsCtePrefix,
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM e0),
       |$stages
       |SELECT label AS community, count(*)::BIGINT AS n_members,
       |  sum(node)::BIGINT AS id_checksum
       |FROM l$LpaRounds
       |GROUP BY label ORDER BY community""".stripMargin
  }

  // ---- q313: recursive CTE reach (SQL-surface recursion) ------------------

  /** Depth bound for the recursive walk: UNION ALL recursion
    * enumerates WALKS (Spark's recursive CTEs don't support UNION
    * distinct yet), so the bound is what keeps the expansion
    * polynomial — 3 hops over the 500-edge backbone stays ≤ ~10⁵
    * rows; the min-hop GROUP BY collapses walks to distances. */
  val RecReachHops = 3

  /** Spark 4's RECURSIVE CTE surface, gated — the SQL-parity cell the
    * DataFrame-side iterative operators (q211 BFS and family) leave
    * open: the same min-hop reachability, expressed as `WITH
    * RECURSIVE` in `spark.sql` and replayed verbatim by the oracle's
    * recursive CTE. Both engines share UNION ALL walk semantics with
    * the depth guard in the recursive arm, so the gate proves the
    * SQL-level recursion machinery end-to-end, not just the operator.
    * For production-scale graphs the iterative checkpointed operator
    * (q211) remains the scale path — walk enumeration is exponential
    * in hubs; this is the SQL-surface form on the bounded backbone. */
  def recursiveReach(spark: SparkSession, dir: String): DataFrame = {
    val edges = backboneEdges(spark, dir)
    val arcs = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
    try spark.catalog.dropTempView("rec_arcs")
    catch { case _: Throwable => () }
    arcs.createOrReplaceTempView("rec_arcs")
    spark.sql(
      s"""WITH RECURSIVE walk(node, h) AS (
         |  SELECT (SELECT min(src) FROM rec_arcs), CAST(0 AS BIGINT)
         |  UNION ALL
         |  SELECT a.dst, w.h + 1
         |  FROM walk w JOIN rec_arcs a ON a.src = w.node
         |  WHERE w.h < $RecReachHops)
         |SELECT node, min(h) AS min_hops
         |FROM walk GROUP BY node ORDER BY node""".stripMargin)
  }

  val recursiveReachSql: String =
    s"""WITH RECURSIVE ui AS (
       |  SELECT DISTINCT user_id,
       |    regexp_extract(props, '"k": (\\d+)', 1)::BIGINT AS item
       |  FROM events
       |  WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''),
       |p AS (
       |  SELECT a.item AS a, b.item AS b, count(*)::BIGINT AS n_ab
       |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2),
       |e AS (SELECT a, b FROM p ORDER BY n_ab DESC, a, b LIMIT $TriEdges),
       |arcs AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM e
       |  UNION ALL SELECT b, a FROM e),
       |walk(node, h) AS (
       |  SELECT (SELECT min(src) FROM arcs), 0::BIGINT
       |  UNION ALL
       |  SELECT a.dst, w.h + 1
       |  FROM walk w JOIN arcs a ON a.src = w.node
       |  WHERE w.h < $RecReachHops)
       |SELECT node, min(h)::BIGINT AS min_hops
       |FROM walk GROUP BY node ORDER BY node""".stripMargin
}
