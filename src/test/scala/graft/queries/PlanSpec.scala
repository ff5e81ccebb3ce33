package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Plan-shape assertions: the physical plans the 100 TB design depends
  * on, locked in as tests so a refactor can't silently regress them
  * (SURVEY.md §7.3 "one-pass plan discipline"). */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("q01: ship-date filter reaches the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed down:\n$p")
  }

  test("q01: scan reads only the needed columns") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      s"column pruning failed: $readSchema")
  }

  test("q07: top-K plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q07_topk_values")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q18: dimension joins broadcast; no shuffle of dimension tables") {
    val p = plan("q18_join_revenue_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected >=3 broadcast joins (customer, nation, region):\n$p")
  }

  test("q02: whole-table profile is one scan, zero row shuffles") {
    val p = plan("q02_profile_numeric")
    val scans = "Scan parquet|FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan:\n$p")
  }

  test("q02/q03/q30/q33: moments come from the library kernel, no built-in moment aggregate") {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    // q30 streams its projection; only a started stream optimizes a
    // streaming plan, so the same projection is planned over the batch
    // table (the watermark drops out, the aggregates stay)
    val frames = Seq("q02_profile_numeric", "q03_profile_orders", "q33_scott_histogram")
      .map(q => q -> SparkEntry.queries(q)(spark, sfDir)) :+
      ("q30_events_stream" ->
        PipelineQueries.eventsWindowProfile(QueryUtil.eventsEventTs(spark, sfDir)))
    frames.foreach { case (q, df) =>
      val p = df.queryExecution.optimizedPlan
      val fns = p.flatMap(_.expressions.flatMap(_.collect {
        case a: AggregateExpression => a.aggregateFunction
      }))
      val builtIn = fns.filter {
        case _: VariancePop | _: VarianceSamp | _: StddevPop | _: Skewness | _: Kurtosis => true
        case _ => false
      }
      assert(builtIn.isEmpty, s"$q plans built-in moments ${builtIn.mkString(", ")}:\n$p")
      if (q != "q33_scott_histogram")
        assert(fns.exists(_.isInstanceOf[graft.profile.MomentsAgg]) &&
          p.toString.contains("moments("), s"$q plans no moments kernel:\n$p")
    }
  }

  test("q13: knn corpus is scanned once and queries broadcast") {
    val p = plan("q13_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("double_array_cosine"), s"native cosine not in plan:\n$p")
  }

  test("q24: near-dup is candidates->verify, no all-pairs product of the corpus") {
    val p = plan("q24_embedding_neardup")
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach { bad =>
      assert(!p.contains(bad), s"q24 plan contains $bad:\n$p")
    }
    assert(p.contains("nearest_cells"), s"IVF cell blocking missing:\n$p")
  }

  test("q13/q24/q25: similarity hot paths have no interpreted lambda at all") {
    // Higher-order functions (transform/aggregate/filter/...) run
    // interpreted — per-element lambda dispatch inside the corpus scan.
    // The similarity paths must be pure codegen: native cosine /
    // nearest_cells expressions plus a vectorized array cast.
    Seq("q13_knn_cosine", "q24_embedding_neardup", "q25_ann_ivf").foreach { q =>
      val p = plan(q)
      assert(!p.contains("lambdafunction"), s"$q plan has an interpreted HOF:\n$p")
    }
  }

  test("q14: text quality has no interpreted transform/aggregate lambda") {
    // stopwordRatio legitimately keeps one `filter` HOF (set membership
    // over a 20-token list); the per-row sum loops must be arithmetic.
    val p = plan("q14_text_quality")
    assert("(?<![A-Za-z])(transform|aggregate)\\(".r.findFirstIn(p).isEmpty,
      s"q14 plan has an interpreted transform/aggregate:\n$p")
  }

  test("q39: bucketed fact join has no hash/broadcast exchange and no pre-join sort") {
    // Both sides bucketed+sorted by the join key, one file per bucket:
    // the sort-merge join consumes the storage layout directly. The only
    // Exchange allowed in the whole plan is the final presentation
    // ORDER BY (rangepartitioning over the small result).
    val p = plan("q39_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"expected a co-located merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not hash-shuffle either side:\n$p")
    assert(!p.contains("BroadcastExchange"),
      s"bucketed join must not broadcast (models two non-broadcastable facts):\n$p")
    // sortBy + one-file-per-bucket: the scan order is trusted, so the
    // only Sort in the plan is the final ORDER BY — not two pre-join
    // sorts plus it
    val sorts = "\\bSort \\[".r.findAllIn(p).size
    assert(sorts <= 1, s"bucketed join should consume the written sort order ($sorts Sorts):\n$p")
  }

  test("q42: range join is a banded equi-join — no nested loop, no cartesian") {
    // A raw non-equi time predicate would plan the per-key pairs as a
    // nested loop; banding must turn it into plain hash/merge joins.
    val p = plan("q42_range_join")
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach { bad =>
      assert(!p.contains(bad), s"q42 plan contains $bad:\n$p")
    }
  }

  test("q43: deterministic sampling pushes no shuffle before the aggregate") {
    // sample membership is a pure projection+filter; the only exchanges
    // are the groupBy partial->final pair and the final ORDER BY
    val p = plan("q43_stratified_sample")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"sampling should be projection-only pre-agg:\n$p")
  }

  test("q47: date filter prunes partitions at plan time; columns pruned too") {
    val p = plan("q47_partition_prune")
    assert(p.contains("PartitionFilters: [isnotnull(event_date"),
      s"partition pruning missing:\n$p")
    assert(p.contains("(event_date") && p.contains(">= 2024-01-10"),
      s"date range not in PartitionFilters:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("user_id") &&
      !readSchema.contains("ts:"), s"column pruning failed: $readSchema")
  }

  test("q51: salted skew join shuffles on (key, salt), no broadcast of either side") {
    val p = plan("q51_skew_join")
    assert(p.contains("SortMergeJoin"), s"expected forced SMJ:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"q51 models a non-broadcastable build side:\n$p")
  }

  test("q57: benchmark fingerprints broadcast; candidates leave by anti-join") {
    val p = plan("q57_decontaminate")
    assert(p.contains("BroadcastExchange"),
      s"benchmark fingerprint set should broadcast:\n$p")
    assert(p.contains("LeftAnti"), s"expected a left-anti membership join:\n$p")
  }

  test("q58: training mix is one corpus scan, one aggregation exchange") {
    val p = plan("q58_training_mix")
    assert("Scan parquet|FileScan".r.findAllIn(p).size == 1, s"expected 1 scan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"quality+mix must stay projection-only before the groupBy:\n$p")
  }

  test("q60: fill is one window over one union shuffle (plus grid distinct)") {
    val p = plan("q60_resample_fill")
    assert("Window \\[".r.findAllIn(p).size == 1, s"expected 1 window:\n$p")
    // grid-build distinct + union fill = 2 hash exchanges, no joins at all
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("Join"), s"as-of fill must not plan a join:\n$p")
  }

  test("no batch query plans a black-box UDF node (ScalaUDF/Python) anywhere") {
    // the whole-surface regression net for the design rule "custom
    // logic is native codegen expressions": a Scala UDF sneaking into
    // any query shows up here. Streaming queries are skipped (building
    // their result DataFrame runs the stream); a few queries do eager
    // driver-side work on construction, which is fine in a test.
    val batch = SparkEntry.queries.keys.filterNot(_.contains("stream")).toSeq.sorted
    batch.foreach { q =>
      val p = plan(q)
      Seq("ScalaUDF", "BatchEvalPython", "ArrowEvalPython").foreach { bad =>
        assert(!p.contains(bad), s"$q plan contains $bad")
      }
    }
  }

  test("no batch query executes the O(rows)-buffer exact percentile anywhere") {
    // `percentile` buffers every value of the column in its aggregation
    // buffer — a scale-killer. Since round 5 the exact-quantile surface
    // (q20/q50/q65/q69) runs ExactQuantile histogram refinement; the
    // one-scan percentile forms are spec-side cross-checks only.
    // approx_percentile (bounded GK sketch, q35) is allowed.
    val batch = SparkEntry.queries.keys.filterNot(_.contains("stream")).toSeq.sorted
    batch.foreach { q =>
      val p = plan(q)
      assert("(?<!approx_)percentile\\(".r.findFirstIn(p).isEmpty,
        s"$q plan contains an exact percentile node")
    }
  }

  test("q05: length stats run fully codegen — no black-box UDF nodes anywhere") {
    // the Calcite-parity value renderers are native expressions
    // (RenderLengthExpression), not Scala UDFs: the whole length scan
    // stays inside WholeStageCodegen
    val p = plan("q05_length_stats")
    Seq("ScalaUDF", "BatchEvalPython", "ArrowEvalPython").foreach { bad =>
      assert(!p.contains(bad), s"q05 plan contains $bad:\n$p")
    }
  }

  test("q73: bloom probe prunes the fact BELOW its shuffle; join stays SMJ") {
    val qe = SparkEntry.queries("q73_bloom_pruned_join")(spark, sfDir).queryExecution
    val root = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val p = root.toString
    assert(p.contains("SortMergeJoin"), s"expected the forced non-broadcast join:\n$p")
    assert(p.contains("bloom_might_contain_long"), s"bloom probe missing from plan:\n$p")
    // the point of the operator: the probe must sit in the SUBTREE of the
    // fact's shuffle, so pruned rows never enter the exchange
    val shuffles = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.exists(_.toString.contains("bloom_might_contain_long")),
      s"bloom probe must be under the fact shuffle (prune before exchange):\n$p")
  }

  test("q25: IVF assign/probe has no crossJoin and no assignment window") {
    val p = plan("q25_ann_ivf")
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach { bad =>
      assert(!p.contains(bad), s"q25 plan contains $bad:\n$p")
    }
    // exactly one Window operator remains — the per-query top-k merge.
    // (WindowGroupLimit nodes are the rank-limit pushdown of that same
    // window, not extra windows, so count only "Window [" operators.)
    assert("Window \\[".r.findAllIn(p).size <= 1, s"extra window in q25 plan:\n$p")
  }

  test("q124: skip-gram pairs emit with NO join and one count exchange") {
    val p = plan("q124_skipgram_pairs")
    Seq("Join", "CartesianProduct").foreach { bad =>
      assert(!p.contains(bad), s"pair generation must be array-native, found $bad:\n$p")
    }
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one aggregation exchange:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"head must not global-sort:\n$p")
  }

  test("q123: canonical-dedup decision shuffle carries no text payload") {
    val p = plan("q123_canonical_dedup")
    // text reaches only the md5 projection; no Exchange row carries `text`
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#"),
      s"document payload entered a shuffle:\n$exchanges")
  }

  test("q127: vocab broadcasts back; the corpus-side join is broadcast, not shuffled") {
    val p = plan("q127_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"vocab cut must be top-K:\n$p")
  }

  test("q134: markov transitions use one lag window, no self-join") {
    val p = plan("q134_markov_transitions")
    assert(!p.contains("Join"), s"adjacency must come from the window:\n$p")
    assert("Window \\[".r.findAllIn(p).size <= 2,
      s"expected the lag window (+ row_total window) only:\n$p")
  }

  test("q187: gazetteer broadcasts; one corpus scan feeds the whole report") {
    val p = plan("q187_ner_redaction")
    assert(p.contains("BroadcastHashJoin"), s"gazetteer join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"gazetteer must never shuffle-join:\n$p")
    // the distinct-name count rides the same per-doc aggregate — a
    // second corpus scan for it is the regression this pins against
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one corpus scan:\n$p")
  }

  test("q146: view maintenance scans raw data only for the delta slice") {
    val p = plan("q146_incremental_agg")
    // the base side must come from the materialized view (checkpoint
    // RDD), never a second raw scan — maintenance work ∝ delta
    assert("Scan parquet|FileScan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one raw parquet scan (the delta):\n$p")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected the stored view to enter as a materialized RDD:\n$p")
  }

  test("q225/q235: the pair table broadcasts; no cartesian anywhere") {
    // another suite's warm cache would swap FileScans for
    // InMemoryTableScans and change the join strategy under test
    spark.catalog.clearCache()
    Seq("q225_ks_drift", "q235_mann_whitney").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastHashJoin"),
        s"$q: pair expansion not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
    }
  }

  test("q220: span excision reads only doc_id and text") {
    spark.catalog.clearCache()
    val p = plan("q220_span_excision")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    readSchemas.foreach { rs =>
      assert(!rs.contains("n_chars") && !rs.contains("source"),
        s"column pruning failed: $rs")
    }
  }

  test("q226: DBSCAN pairs come from IVF blocking, never an all-pairs product") {
    // the query itself returns a checkpoint barrier (ExistingRDD), so
    // the neighbor-pair machinery is asserted on the builder pipeline
    // q226 feeds into dbscanFrom — identical construction to the query
    import org.apache.spark.sql.functions.col
    import graft.similarity.{CosineKnn, IvfIndex}
    spark.catalog.clearCache()
    val emb = QueryUtil.table(spark, sfDir, "embeddings")
    val centroids = IvfIndex.train(emb, "vec_id", "embedding",
      nlist = PipelineQueries.NearDupNlist)
    val pairs = CosineKnn.verifyPairs(
      IvfIndex.nearDupCandidates(emb, "vec_id", "embedding", centroids,
        nprobe = PipelineQueries.NearDupProbe),
      emb, "vec_id", "embedding", PipelineQueries.NearDupCos)
      .select("doc_a", "doc_b")
    val p = pairs.queryExecution.executedPlan.toString
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach { bad =>
      assert(!p.contains(bad), s"q226 pair plan contains $bad:\n$p")
    }
    assert(p.contains("nearest_cells"), s"IVF cell blocking missing:\n$p")
    // and the query's own final plan is the deliberate checkpoint barrier
    val fp = plan("q226_dbscan")
    assert(fp.contains("ExistingRDD"), s"expected checkpoint barrier:\n$fp")
  }

  test("q234: triple top-K plans as TakeOrderedAndProject, not a global sort") {
    spark.catalog.clearCache()
    val p = plan("q234_brand_triples")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q237: the Luhn fold runs on one documents scan") {
    spark.catalog.clearCache()
    val p = plan("q237_luhn_audit")
    val scans = "Scan parquet|FileScan".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan:\n$p")
  }

  test("q257: every window is bucket-partitioned — no single-partition cumsum") {
    spark.catalog.clearCache()
    val p = plan("q257_pareto_deciles")
    val windows = "Window \\[".r.findAllIn(p).size
    val bucketed = "windowspecdefinition\\(__bucket".r.findAllIn(p).size
    assert(windows >= 2, s"expected the two PrefixSum windows:\n$p")
    assert(bucketed == windows,
      s"a window lost its __bucket partition spec ($bucketed/$windows):\n$p")
  }

  test("q250: centroid table broadcasts; no cartesian product anywhere") {
    spark.catalog.clearCache()
    val p = plan("q250_silhouette_audit")
    assert(p.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leak:\n$p")
  }

  test("q249: hubness corpus scan joins a broadcast query set, no cartesian") {
    spark.catalog.clearCache()
    val p = plan("q249_hubness_audit")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"queries not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leak:\n$p")
  }

  test("q276: all three RFM rank windows are bucket-partitioned") {
    spark.catalog.clearCache()
    val p = plan("q276_rfm_segments")
    val windows = "Window \\[".r.findAllIn(p).size
    val bucketed = "windowspecdefinition\\(__bucket".r.findAllIn(p).size
    assert(windows >= 3, s"expected the three PrefixSum windows:\n$p")
    assert(bucketed == windows,
      s"a rank window lost its __bucket partition spec ($bucketed/$windows):\n$p")
  }

  test("q274: k-means assigns against broadcast centroids, no cartesian") {
    spark.catalog.clearCache()
    val p = plan("q274_kmeans_micro")
    assert(p.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leak:\n$p")
  }

  test("condition-free joins are scalar-bounded outside the exact baselines") {
    // the quadratic-creep net: a cross join is legitimate ONLY when one
    // side is provably tiny (a scalar aggregate, a literal grid, a
    // LIMIT head, a literal bucket grid — a KNOWN logical row bound,
    // maxRows <= 1024) or the query is one of the
    // two DOCUMENTED exact-regime baselines whose all-pairs scan is the
    // point (q13 brute-force kNN over a 16-row broadcast query set —
    // filter hides the bound from maxRows; q249's all-vectors kNN
    // audit, whose scale path is the stored ANN graph).
    // Boundedness evidence, either: a structural row bound (maxRows —
    // scalar aggregates, literal grids, LIMIT heads), or an explicit
    // broadcast() hint on a side (the author's audited small-side
    // claim — domain-bounded group grids like per-band counts have no
    // structural bound, and the hint is what documents them).
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.logical.HintInfo
    val whitelist = Set("q13_knn_cosine", "q249_hubness_audit")
    val batch = SparkEntry.queries.keys
      .filterNot(_.contains("stream")).filterNot(whitelist)
      .toSeq.sorted
    def hintedBroadcast(h: Option[HintInfo]): Boolean =
      h.exists(_.strategy.exists(_.toString.contains("broadcast")))
    batch.foreach { q =>
      val lp = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.optimizedPlan
      lp.foreach {
        case j: Join if j.condition.isEmpty =>
          val bounded = Seq(j.left, j.right).exists(
            _.maxRows.exists(_ <= 1024)) ||
            hintedBroadcast(j.hint.leftHint) ||
            hintedBroadcast(j.hint.rightHint)
          assert(bounded,
            s"$q plans an unbounded, unhinted condition-free join:\n$j")
        case _ => ()
      }
    }
  }

  test("q320: the packer is windows over day cells — one orders scan, no join at all") {
    val p = plan("q320_compaction_plan")
    assert("Scan parquet|FileScan".r.findAllIn(p).size == 1, s"expected 1 scan:\n$p")
    assert(!p.contains("Join"), s"packer should not join:\n$p")
  }

  test("q321: the NB model and class tables reach scoring as broadcasts") {
    val p = plan("q321_naive_bayes")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"model/ln-table joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"NB plan has a cartesian:\n$p")
  }

  test("q322: the AMS sketch aggregate is map-side combined (partial HashAggregate)") {
    val p = plan("q322_ams_f2")
    assert(!p.contains("CartesianProduct"), p)
    // partial_sum before the 16-group exchange = mergeable-sketch shape
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"no partial aggregation in sketch plan:\n$p")
  }

  test("q324: the codec pass is one documents scan with pruned columns") {
    val p = plan("q324_mulaw_roundtrip")
    assert("Scan parquet|FileScan".r.findAllIn(p).size == 1, s"expected 1 scan:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("source") && !readSchema.contains("lang"),
      s"column pruning failed: $readSchema")
  }

  test("q326: KMV never shuffles raw events — distinct hashes aggregate partially") {
    val p = plan("q326_kmv_distinct")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Partial"), s"no partial aggregate in KMV plan:\n$p")
  }
}
