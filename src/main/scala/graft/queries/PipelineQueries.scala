package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.{ExactDedup, MinHashLSH, NgramJaccard, SimHash}
import graft.multimodal.Multimodal
import graft.similarity.{CosineKnn, IvfIndex, ProductQuantizer}
import graft.text.{Hashing, TextStats}
import QueryUtil._

/** The LLM-training-data pipeline surface: deduplication (exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding near-dup),
  * similarity search (brute-force + IVF), text analysis (tokens,
  * quality, language ID, fingerprinting), multimodal plumbing, and a
  * Structured Streaming windowed profile.
  *
  * Every DuckDB oracle here is GENERATED from the same constants the
  * Spark operators use ([[Hashing]], [[TextStats]]), so thresholds and
  * hash coefficients cannot drift between the two engines.
  */
object PipelineQueries {

  private val P = Hashing.P31

  // ---- q09: exact dedup ----------------------------------------------

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    ExactDedup.stats(table(spark, dir, "documents"), "doc_id", "text")

  val dedupExactSql: String =
    """SELECT count(*) AS n_distinct, sum(group_size)::BIGINT AS n_docs,
      |  (sum(group_size) - count(*))::BIGINT AS n_duplicates,
      |  sum(CASE WHEN group_size > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups
      |FROM (SELECT md5(text) AS digest, min(doc_id) AS keep_id,
      |        count(*) AS group_size
      |      FROM documents GROUP BY md5(text))""".stripMargin

  // ---- q10: MinHash + LSH near-dup -----------------------------------

  val MinhashThreshold = 0.5

  /** Served from the persisted pair store ([[ensurePairStore]]): the
    * detector runs once per corpus generation at store build; this and
    * every other member of its consumer family read the stored
    * candidates. [[graft.dedup.MinHashLSH.nearDuplicates]] remains the
    * from-scratch library path (and the store builder's engine). */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    storedVerifiedPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** The full MinHash pipeline as SQL CTEs ending in `verified
    * (doc_a, doc_b, est_jaccard, jaccard)` — shared by the q10 oracle
    * and the q81 incremental oracle (which is by construction the same
    * pipeline restricted to delta-touching pairs). `docsSql` is the
    * corpus source relation (a subquery for q193's upserted corpus). */
  private def minhashVerifiedCteFrom(docsSql: String): String = {
    val n = MinHashLSH.NumHashes
    val sigMins = (0 until n)
      .map(i => s"min(${Hashing.affineSql(i, "x")}) AS h$i").mkString(",\n    ")
    val bands = (0 until MinHashLSH.Bands).map { b =>
      val key = (0 until MinHashLSH.RowsPerBand)
        .map(r => s"h${b * MinHashLSH.RowsPerBand + r}")
        .mkString(" || '_' || ")
      s"SELECT id, $b AS band, $key AS key FROM sig"
    }.mkString("\n    UNION ALL ")
    val matchSum = (0 until n)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM $docsSql),
       |sets AS (
       |  SELECT id, ${Hashing.wordShinglesSql("w", 3)} AS sh FROM tok),
       |post AS (SELECT id, unnest(sh) AS shingle FROM sets),
       |xs AS (SELECT id, ${Hashing.x31Sql("shingle")} AS x FROM post),
       |sig AS (SELECT id, $sigMins FROM xs GROUP BY id),
       |bands AS ($bands),
       |cand AS (
       |  SELECT DISTINCT l.id AS doc_a, r.id AS doc_b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.key = r.key AND l.id < r.id),
       |est AS (
       |  SELECT doc_a, doc_b, ($matchSum) / ${n.toDouble} AS est_jaccard
       |  FROM cand
       |  JOIN sig sa ON sa.id = doc_a
       |  JOIN sig sb ON sb.id = doc_b),
       |verified AS (
       |  SELECT e.doc_a, e.doc_b, e.est_jaccard,
       |    len(list_intersect(a.sh, b.sh))::DOUBLE /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |  FROM est e
       |  JOIN sets a ON a.id = e.doc_a
       |  JOIN sets b ON b.id = e.doc_b)""".stripMargin
  }

  private val minhashVerifiedCte: String = minhashVerifiedCteFrom("documents")

  val dedupMinhashSql: String =
    s"""$minhashVerifiedCte
       |SELECT doc_a, doc_b, round(est_jaccard, 6) AS est_jaccard,
       |  round(jaccard, 6) AS jaccard
       |FROM verified WHERE jaccard >= $MinhashThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- the persisted MinHash pair store (detector economics) ----------

  /** Write-once persisted MinHash CANDIDATE-PAIR table over the FULL
    * corpus — the detector-economics fix for the q10 consumer family
    * (q10/q56/q240/q263/q264/q265/q270/q280 each used to re-run the
    * whole MinHash pipeline per query; at 100 TB that is eight
    * redundant full-corpus detector passes per round). The store holds
    * one row per banding candidate with everything any member derives:
    * `(doc_a, doc_b, matches, inter, un)` — signature agreement count
    * plus exact shingle intersection/union — so verified pairs
    * (`inter/un ≥ threshold`, q10), calibration rows (q263), dup-id
    * sets (q240/q280), and the pair graph (q56/q264/q265/q270) are all
    * cheap projections/filters of ONE detector run per corpus
    * generation. Candidate volume is ∝ banding collisions (≪ n²), a
    * few hundred bytes per row — orders of magnitude under the corpus.
    *
    * Lifecycle is [[graft.sources.IndexStore]] verbatim (content
    * fingerprint over contained data files, staging + atomic-rename
    * publish, superseded-generation cleanup); plain parquet, not
    * bucketed — members read the table whole, never key-join it.
    * Returns the catalog table name. */
  def ensurePairStore(spark: SparkSession, dir: String): String =
    PipelineQueries.synchronized {
      import graft.sources.IndexStore
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
      val name = s"pair_idx_${dirTag}_$fpTag"
      if (!spark.catalog.tableExists(name)) {
        val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
        val dest = new java.io.File(storeRoot, s"graft_pair_idx_${dirTag}_$fpTag")
        IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
          val res = MinHashLSH.calibrationResult(
            table(spark, dir, "documents"), "doc_id", "text")
          // local corpora yield a few thousand candidate rows → a small
          // fixed file count; at scale the write keeps the detector's
          // natural partitioning (drop the coalesce)
          res.df.coalesce(4).write.mode("overwrite").parquet(staging.getPath)
          res.release()
        }
        val lt = org.apache.spark.sql.types.LongType
        val schema = org.apache.spark.sql.types.StructType(
          Seq("doc_a", "doc_b", "matches", "inter", "un")
            .map(org.apache.spark.sql.types.StructField(_, lt)))
        IndexStore.registerParquet(spark, name, dest.getPath, schema)
        IndexStore.cleanupSuperseded(spark, storeRoot,
          s"graft_pair_idx_${dirTag}_", dest.getName,
          s"pair_idx_${dirTag}_", name)
      }
      name
    }

  /** Every banding candidate from the pair store:
    * `(doc_a, doc_b, matches, inter, un)`. */
  def storedCandidatePairs(spark: SparkSession, dir: String): DataFrame =
    spark.table(ensurePairStore(spark, dir))

  /** q10's verified near-dup pairs `(doc_a, doc_b, est_jaccard,
    * jaccard)` derived from the pair store — value-identical to
    * [[graft.dedup.MinHashLSH.nearDuplicates]]: `est = matches/32`
    * (a binary fraction, exact in double) and `jaccard = inter/un`
    * are the same two divisions the recompute path performs, filtered
    * and rounded identically (PairStoreSpec pins store ≡ recompute). */
  def storedVerifiedPairs(spark: SparkSession, dir: String): DataFrame =
    storedCandidatePairs(spark, dir)
      .withColumn("jacc",
        col("inter").cast("double") / col("un").cast("double"))
      .filter(col("jacc") >= MinhashThreshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("matches").cast("double") /
          lit(MinHashLSH.NumHashes.toDouble), 6).as("est_jaccard"),
        round(col("jacc"), 6).as("jaccard"))

  // ---- the persisted IVF centroid store (training economics) ----------

  /** In-JVM memo over [[storedCentroids]] — bench reps and the ~8
    * consumer queries share one training per (corpus variant, params)
    * without even a parquet re-read. */
  private val centroidMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Double]]]()

  /** Write-once persisted IVF coarse-quantizer centroids — the
    * training-economics fix mirroring [[ensurePairStore]]: eight gated
    * queries used to re-run `IvfIndex.train` (3 Lloyd passes over the
    * embeddings + a driver collect) over the SAME corpus per query; at
    * 100 TB that is eight redundant full-corpus training sweeps per
    * round. Keyed by (embeddings content fingerprint, corpus VARIANT,
    * nlist, iters, init mode) — the variant names which deterministic
    * derivation of the embeddings table was trained on:
    * `full` (the table), `grouped` ([[groupedEmbeddings]]),
    * `base` (the q108 pre-append slice, vec_id % [[AnnDeltaMod]] != 0).
    * Assignment stays per-query: it is ONE broadcast-argmax map over
    * the scan, cheap at any scale, and persisting it would store the
    * corpus a second time.
    *
    * Training is deterministic (id-ordered / hash-spread seeds, no
    * RNG) and doubles roundtrip parquet bit-exactly, so store ≡
    * recompute EXACTLY (CentroidStoreSpec pins it). Lifecycle is
    * [[graft.sources.IndexStore]] verbatim; the params sit BEFORE the
    * fingerprint in the store name so superseded-generation cleanup
    * never deletes sibling variants. */
  def storedCentroids(spark: SparkSession, dir: String, variant: String,
      nlist: Int, spreadInit: Boolean = false,
      iters: Int = 3): Array[Array[Double]] = {
    import graft.sources.IndexStore
    val dirTag = IndexStore.pathTag(dir)
    val fpTag = IndexStore.contentTag(
      new java.io.File(s"$dir/embeddings.parquet"))
    val init = if (spreadInit) "s" else "i"
    val prefix =
      s"graft_ivf_cent_${dirTag}_${variant}_${nlist}_${iters}${init}_"
    val key = s"$prefix$fpTag"
    centroidMemo.computeIfAbsent(key, { _ =>
      PipelineQueries.synchronized {
        val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
        val dest = new java.io.File(storeRoot, key)
        IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
          val corpus = variant match {
            case "full" => table(spark, dir, "embeddings")
            case "grouped" =>
              groupedEmbeddings(table(spark, dir, "embeddings"))
            case "base" => table(spark, dir, "embeddings")
              .filter(col("vec_id") % AnnDeltaMod =!= 0)
            case v => throw new IllegalArgumentException(
              s"unknown centroid-store corpus variant '$v'")
          }
          val centroids =
            IvfIndex.train(corpus, "vec_id", "embedding", nlist, iters,
              spreadInit)
          import spark.implicits._
          centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
            .toDF("cell", "centroid").coalesce(1)
            .write.mode("overwrite").parquet(staging.getPath)
        }
        IndexStore.cleanupSuperseded(spark, storeRoot, prefix,
          dest.getName,
          // no catalog entries for centroid stores; prefix matches none
          prefix, dest.getName)
        val rows = spark.read.parquet(dest.getPath)
          .select("cell", "centroid").collect()
        val out = new Array[Array[Double]](rows.length)
        rows.foreach { r =>
          out(r.getInt(0)) = r.getSeq[Double](1).toArray
        }
        out
      }
    })
  }

  // ---- q295: dedup threshold sensitivity sweep -------------------------

  /** The sweep grid (permille). 500 is q10's operating point, so that
    * row's n_pairs equals the q10 pair count by construction. */
  val SweepThresholdsPm: Seq[Long] = Seq(300L, 400L, 500L, 600L, 700L,
    800L, 900L)

  /** What would the dedup pass remove at OTHER thresholds? — the
    * tuning curve every threshold decision (q10's 0.5) should be read
    * against, and the reason [[ensurePairStore]] stores candidates
    * UNFILTERED: the sweep is a pure projection of the stored
    * `(inter, un)` integers — re-tuning costs one store scan, never a
    * detector re-run. Per grid threshold: surviving pair count and
    * distinct documents touched. Exact integer gate:
    * `(1000·inter) div un ≥ t ⟺ inter/un ≥ t/1000` (floor division
    * against an integer grid is lossless), so the 500 row reproduces
    * q10's pair set exactly.
    *
    * Scale shape: the store is ∝ banding collisions; the sweep is one
    * scan of it joined to a 7-row broadcast grid — tuning becomes
    * O(candidates), independent of the corpus. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cand = storedCandidatePairs(spark, dir)
      .withColumn("jacc_pm", expr("(1000 * inter) div un"))
    val ths = SweepThresholdsPm.toDF("threshold_pm")
    val hits = broadcast(ths).join(cand,
      col("jacc_pm") >= col("threshold_pm"), "left")
    val pairsAgg = hits.groupBy("threshold_pm")
      .agg(count(col("doc_a")).as("n_pairs"))
    val docsAgg = hits
      .select(col("threshold_pm"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("threshold_pm")
      .agg(countDistinct(col("d")).as("docs_touched"))
    pairsAgg.join(docsAgg, Seq("threshold_pm"), "left")
      .na.fill(0L, Seq("docs_touched"))
      .orderBy("threshold_pm")
  }

  val dedupThresholdSweepSql: String = {
    val n = MinHashLSH.NumHashes
    val sigMins = (0 until n)
      .map(i => s"min(${Hashing.affineSql(i, "x")}) AS h$i").mkString(",\n    ")
    val bands = (0 until MinHashLSH.Bands).map { b =>
      val key = (0 until MinHashLSH.RowsPerBand)
        .map(r => s"h${b * MinHashLSH.RowsPerBand + r}")
        .mkString(" || '_' || ")
      s"SELECT id, $b AS band, $key AS key FROM sig"
    }.mkString("\n    UNION ALL ")
    val grid = SweepThresholdsPm.map(t => s"($t)").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |sets AS (
       |  SELECT id, ${Hashing.wordShinglesSql("w", 3)} AS sh FROM tok),
       |post AS (SELECT id, unnest(sh) AS shingle FROM sets),
       |xs AS (SELECT id, ${Hashing.x31Sql("shingle")} AS x FROM post),
       |sig AS (SELECT id, $sigMins FROM xs GROUP BY id),
       |bands AS ($bands),
       |cand AS (
       |  SELECT DISTINCT l.id AS doc_a, r.id AS doc_b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.key = r.key AND l.id < r.id),
       |jac AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b,
       |    ((1000 * len(list_intersect(a.sh, b.sh)))
       |      // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))))
       |      ::BIGINT AS jacc_pm
       |  FROM cand c
       |  JOIN sets a ON a.id = c.doc_a
       |  JOIN sets b ON b.id = c.doc_b),
       |th(threshold_pm) AS (VALUES $grid),
       |hits AS (
       |  SELECT th.threshold_pm, jac.doc_a, jac.doc_b
       |  FROM th LEFT JOIN jac ON jac.jacc_pm >= th.threshold_pm),
       |p AS (
       |  SELECT threshold_pm, count(doc_a)::BIGINT AS n_pairs
       |  FROM hits GROUP BY 1),
       |d AS (
       |  SELECT threshold_pm, count(DISTINCT d)::BIGINT AS docs_touched
       |  FROM (
       |    SELECT threshold_pm, doc_a AS d FROM hits
       |    UNION ALL SELECT threshold_pm, doc_b FROM hits)
       |  GROUP BY 1)
       |SELECT p.threshold_pm::BIGINT AS threshold_pm, p.n_pairs,
       |  coalesce(d.docs_touched, 0)::BIGINT AS docs_touched
       |FROM p LEFT JOIN d USING (threshold_pm)
       |ORDER BY threshold_pm""".stripMargin
  }

  // ---- q296: multi-keyword lexicon tagging (Aho-Corasick) ---------------

  /** The gated lexicon — two-word phrases over the corpus vocabulary,
    * each BORDER-FREE (no proper prefix equals a suffix), which is
    * what makes the automaton's every-occurrence count equal the SQL
    * oracle's non-overlapping `replace`-length count
    * (AhoCorasickSpec proves the property and the equality). */
  val KeywordLexicon: Seq[String] = Seq("batch stream", "fast scan",
    "hash join", "merge join", "slow query", "sort merge", "table scan",
    "window agg")

  /** Lexicon tagging in ONE corpus pass —
    * [[graft.text.AhoCorasick]]: how many documents mention each
    * blocklist/brand/PII term, and how often. The operational point is
    * the k-independence: q79/q187's regex redaction scans per pattern
    * (O(k·n) — fine for k ≈ 10 patterns), while a real lexicon is
    * 10⁴-10⁶ terms and only an automaton keeps the scan O(n). The
    * matcher builds once per PARTITION from the broadcast lexicon and
    * the per-doc counts aggregate map-side — mapPartitions used
    * exactly where it belongs (a stateful character-level scan no
    * Column function expresses; the MediaCodec argument), below a
    * plain DataFrame aggregation. */
  def keywordTagging(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lex = KeywordLexicon
    val hits = table(spark, dir, "documents")
      .select(col("text")).as[String]
      .mapPartitions { it =>
        val ac = new graft.text.AhoCorasick(lex)
        it.flatMap { t =>
          val cs = ac.counts(t)
          cs.iterator.zipWithIndex.filter(_._1 > 0)
            .map { case (c, i) => (lex(i), 1L, c) }
        }
      }
      .toDF("keyword", "doc", "hits")
      .groupBy("keyword")
      .agg(sum("doc").as("n_docs"), sum("hits").as("n_hits"))
    broadcast(lex.toDF("keyword"))
      .join(hits, Seq("keyword"), "left")
      .na.fill(0L, Seq("n_docs", "n_hits"))
      .orderBy("keyword")
  }

  val keywordTaggingSql: String =
    KeywordLexicon.map { kw =>
      s"""SELECT '$kw' AS keyword,
         |  coalesce(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS n_docs,
         |  coalesce(sum(c), 0)::BIGINT AS n_hits
         |FROM (SELECT (length(text) - length(replace(text, '$kw', '')))
         |        // ${kw.length} AS c
         |      FROM documents)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY keyword"

  // ---- q263: MinHash estimator calibration ------------------------------

  /** Is the 32-hash MinHash estimate actually TRACKING Jaccard on
    * this corpus? — the sketch-calibration audit q10's threshold
    * decisions silently assume: for EVERY banding candidate (no
    * threshold — calibration needs the misses too), the signature
    * agreement count vs the exact intersection, the signed error, and
    * whether it sits within the binomial ±2σ band
    * `se = √(j(1−j)/32)`. A sketch whose errors leave the band means
    * the banding parameters, not the threshold, need retuning.
    *
    * Integer discipline: matches ∈ 0..32 and inter/union are exact
    * counts; est/exact floor milli; the error an exact subtraction of
    * floors; the band one documented two-stage floor
    * (`⌊√((em·(1000−em)) div 32)⌋`, engine-deterministic below 2⁵²).
    *
    * Scale shape: identical to q10 (banding keeps candidates ∝
    * collisions; only the 33-column signature table persists); the
    * calibration arithmetic is per-candidate-row projection. */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    storedCandidatePairs(spark, dir)
      .withColumn("est_milli", expr("(1000 * matches) div 32"))
      .withColumn("exact_milli", expr("(1000 * inter) div un"))
      .withColumn("err_milli", expr("est_milli - exact_milli"))
      .withColumn("se_milli",
        expr("""cast(floor(sqrt(cast((exact_milli * (1000 - exact_milli))
                div 32 as double))) as long)"""))
      .withColumn("within_2se",
        abs(col("err_milli")) <= lit(2L) * col("se_milli"))
      .select("doc_a", "doc_b", "matches", "inter", "un", "est_milli",
        "exact_milli", "err_milli", "se_milli", "within_2se")
      .orderBy("doc_a", "doc_b")
  }

  lazy val minhashCalibrationSql: String = {
    val n = MinHashLSH.NumHashes
    val sigMins = (0 until n)
      .map(i => s"min(${Hashing.affineSql(i, "x")}) AS h$i").mkString(",\n    ")
    val bands = (0 until MinHashLSH.Bands).map { b =>
      val key = (0 until MinHashLSH.RowsPerBand)
        .map(r => s"h${b * MinHashLSH.RowsPerBand + r}")
        .mkString(" || '_' || ")
      s"SELECT id, $b AS band, $key AS key FROM sig"
    }.mkString("\n    UNION ALL ")
    val matchSum = (0 until n)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |sets AS (
       |  SELECT id, ${Hashing.wordShinglesSql("w", 3)} AS sh FROM tok),
       |post AS (SELECT id, unnest(sh) AS shingle FROM sets),
       |xs AS (SELECT id, ${Hashing.x31Sql("shingle")} AS x FROM post),
       |sig AS (SELECT id, $sigMins FROM xs GROUP BY id),
       |bands AS ($bands),
       |cand AS (
       |  SELECT DISTINCT l.id AS doc_a, r.id AS doc_b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.key = r.key AND l.id < r.id),
       |est AS (
       |  SELECT doc_a, doc_b, ($matchSum)::BIGINT AS matches
       |  FROM cand
       |  JOIN sig sa ON sa.id = doc_a
       |  JOIN sig sb ON sb.id = doc_b),
       |cal AS (
       |  SELECT e.doc_a, e.doc_b, e.matches,
       |    len(list_intersect(a.sh, b.sh))::BIGINT AS inter,
       |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::BIGINT
       |      AS un
       |  FROM est e
       |  JOIN sets a ON a.id = e.doc_a
       |  JOIN sets b ON b.id = e.doc_b),
       |m AS (
       |  SELECT doc_a, doc_b, matches, inter, un,
       |    ((1000 * matches) // 32)::BIGINT AS est_milli,
       |    ((1000 * inter) // un)::BIGINT AS exact_milli
       |  FROM cal)
       |SELECT doc_a, doc_b, matches, inter, un, est_milli, exact_milli,
       |  (est_milli - exact_milli)::BIGINT AS err_milli,
       |  floor(sqrt(((exact_milli * (1000 - exact_milli)) // 32)::DOUBLE)
       |    )::BIGINT AS se_milli,
       |  abs(est_milli - exact_milli) <=
       |    2 * floor(sqrt(((exact_milli * (1000 - exact_milli)) // 32)
       |      ::DOUBLE))::BIGINT AS within_2se
       |FROM m ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q81: incremental near-dup (delta shard vs indexed corpus) ------

  /** The crawl-append dedup: docs with `doc_id % 10 == 0` play the
    * incoming shard, the rest the already-indexed corpus. See
    * [[graft.dedup.MinHashLSH.incrementalNearDuplicatesResult]] for the
    * cost shape (∝ delta + collisions, never ∝ corpus). `pair_type`
    * tags whether the duplicate was found against the corpus or inside
    * the shard itself. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    MinHashLSH.incrementalNearDuplicatesResult(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", MinhashThreshold)
      .df
      .withColumn("pair_type",
        when(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0,
          lit("delta_delta")).otherwise(lit("base_delta")))
      .orderBy("doc_a", "doc_b")
  }

  /** The full-corpus pipeline restricted to delta-touching pairs — the
    * equivalence the incremental operator guarantees. */
  val dedupIncrementalSql: String =
    s"""$minhashVerifiedCte
       |SELECT doc_a, doc_b, round(est_jaccard, 6) AS est_jaccard,
       |  round(jaccard, 6) AS jaccard,
       |  CASE WHEN doc_a % 10 = 0 AND doc_b % 10 = 0 THEN 'delta_delta'
       |       ELSE 'base_delta' END AS pair_type
       |FROM verified
       |WHERE jaccard >= $MinhashThreshold
       |  AND (doc_a % 10 = 0 OR doc_b % 10 = 0)
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q184: incremental near-dup from a PERSISTED index --------------

  /** q81's crawl-append dedup with the corpus index read from DISK
    * instead of recomputed from base text — the round trip that turns
    * "the index could live at rest" into a gate. The index is
    * [[graft.dedup.MinHashLSH.indexRows]] (signature + sorted verify
    * sets per doc) written ONCE per (catalog, sf-dir fingerprint) as a
    * parquet table bucketed by id ([[graft.sources.BucketedTables]]),
    * then read back; base documents are NOT an input to the query —
    * zero re-derivation of base signatures is structural, and
    * StoredIndexSpec asserts it on the plan (every documents.parquet
    * scan carries the delta predicate) plus bitwise equality with
    * q81's recompute path. Oracle: identical to q81 — the full-corpus
    * pipeline restricted to delta-touching pairs. */
  def dedupStoredIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val index = spark.table(ensureDedupIndex(spark, dir))
    MinHashLSH.incrementalFromIndexResult(
        index, docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", MinhashThreshold)
      .df
      .withColumn("pair_type",
        when(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0,
          lit("delta_delta")).otherwise(lit("base_delta")))
      .orderBy("doc_a", "doc_b")
  }

  val dedupStoredIndexSql: String = dedupIncrementalSql

  /** Write-once persisted dedup index over the base shard (doc_id %
    * 10 != 0), bucketed by id. Store lifecycle is
    * [[graft.sources.IndexStore]]: content fingerprint over the
    * CONTAINED data files (regenerated data — even an in-place rewrite
    * inside a directory-backed dataset — invalidates the store instead
    * of serving stale rows), build-into-staging + atomic-rename publish
    * (a reader never sees a half-written store; two concurrent builders
    * produce one valid index), and deletion of superseded generations
    * (old fingerprint tags don't accrete forever). The catalog entry is
    * re-registered per JVM over the published path (the q39 catalog
    * convention). Returns the catalog table name. */
  def ensureDedupIndex(spark: SparkSession, dir: String): String =
    PipelineQueries.synchronized {
      import graft.sources.{BucketedTables, IndexStore}
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
      val name = s"dedup_idx_${dirTag}_$fpTag"
      if (!spark.catalog.tableExists(name)) {
        val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
        val dest = new java.io.File(storeRoot, s"graft_dedup_idx_${dirTag}_$fpTag")
        def indexDf = MinHashLSH.indexRows(
          table(spark, dir, "documents").filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text")
        IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
          // saveAsTable pins the staging path in the catalog; drop the
          // entry (files survive — external table) and re-register over
          // the final path after the rename
          val stagingName = s"${name}_staging"
          BucketedTables.writeBucketed(indexDf, stagingName, staging.getPath, "id", 8)
          spark.sql(s"DROP TABLE IF EXISTS $stagingName")
        }
        IndexStore.registerBucketed(spark, name, dest.getPath, indexDf.schema, "id", 8)
        IndexStore.cleanupSuperseded(spark, storeRoot,
          s"graft_dedup_idx_${dirTag}_", dest.getName,
          s"dedup_idx_${dirTag}_", name)
      }
      name
    }

  // ---- q188: stored-index COMPACTION (small-file maintenance) ---------

  /** Append batches the fragmented store accumulates before compaction
    * (each lands [[CompactFilesPerFragment]] small files — the
    * many-small-appends shape an incremental crawl index degrades
    * into). */
  val CompactFragments = 4
  val CompactFilesPerFragment = 8

  /** q184's stored-index dedup answered from a COMPACTED index: the
    * store first accumulates [[CompactFragments]] append batches (a
    * fragmented pile of [[CompactFragments]]×[[CompactFilesPerFragment]]
    * small unbucketed files — k incremental appends at rest), then the
    * maintenance pass rewrites it once into the bucketed layout
    * ([[graft.sources.BucketedTables.writeBucketed]]: 8 buckets, one
    * file per bucket, sorted by id) and the query runs against the
    * rewrite. Compaction reads INDEX ROWS, never corpus text — work ∝
    * index size — and by construction changes no row, so the oracle is
    * q184's verbatim; CompactionSpec additionally pins the file-count
    * collapse, fragmented≡compacted result equality, and the restored
    * bucketed layout on the plan. This is the maintenance operator the
    * q184/q185 stores were missing: without it, every append widens
    * the scan's file list forever — the real 100 TB small-file pain. */
  def dedupCompactedIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val index = spark.table(ensureCompactedIndex(spark, dir))
    MinHashLSH.incrementalFromIndexResult(
        index, docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", MinhashThreshold)
      .df
      .withColumn("pair_type",
        when(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0,
          lit("delta_delta")).otherwise(lit("base_delta")))
      .orderBy("doc_a", "doc_b")
  }

  val dedupCompactedIndexSql: String = dedupIncrementalSql

  /** Build-once fragmented store + compaction (lifecycle per
    * [[graft.sources.IndexStore]], like [[ensureDedupIndex]]): the
    * published root holds `fragments/` (the append pile, kept so the
    * spec can audit the layout it replaced) and `compacted/` (the
    * bucketed rewrite the catalog table points at). Fragment rows come
    * from the q184 store — a real compactor reads the index it
    * maintains, not the corpus. Returns the catalog table name. */
  def ensureCompactedIndex(spark: SparkSession, dir: String): String =
    PipelineQueries.synchronized {
      import graft.sources.{BucketedTables, IndexStore}
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
      val name = s"dedup_cidx_${dirTag}_$fpTag"
      if (!spark.catalog.tableExists(name)) {
        val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
        val dest = new java.io.File(storeRoot, s"graft_dedup_cidx_${dirTag}_$fpTag")
        val baseIdx = spark.table(ensureDedupIndex(spark, dir))
        def valid(root: java.io.File): Boolean =
          IndexStore.hasSuccess(new java.io.File(root, "fragments")) &&
            IndexStore.hasSuccess(new java.io.File(root, "compacted"))
        IndexStore.publish(dest, valid) { staging =>
          val frags = s"$staging/fragments"
          (0 until CompactFragments).foreach { f =>
            baseIdx.filter(col("id") % CompactFragments === f)
              .repartition(CompactFilesPerFragment)
              .write.mode("append").parquet(frags)
          }
          val stagingName = s"${name}_staging"
          BucketedTables.writeBucketed(spark.read.parquet(frags),
            stagingName, s"$staging/compacted", "id", 8)
          spark.sql(s"DROP TABLE IF EXISTS $stagingName")
        }
        IndexStore.registerBucketed(spark, name,
          new java.io.File(dest, "compacted").getPath, baseIdx.schema, "id", 8)
        IndexStore.cleanupSuperseded(spark, storeRoot,
          s"graft_dedup_cidx_${dirTag}_", dest.getName,
          s"dedup_cidx_${dirTag}_", name)
      }
      name
    }

  // ---- q191: forget (right-to-erasure) applied to the stored index ----

  /** Forgotten cohort: base docs with doc_id % 50 == 7 (all base-side
    * by construction — 7 mod 10 ≠ 0 — so the delta shard is never
    * touched by the erasure). */
  val ForgetMod = 50L
  val ForgetRem = 7L

  /** The erasure half of index maintenance (q132 audits the cascade;
    * q188 compacts; this DELETES): a right-to-erasure request against
    * the q184 store must remove the cohort's rows from the index AT
    * REST — not just filter query output — because the index IS
    * derived personal data (signatures + shingle hashes reconstruct
    * membership). The forget pass anti-filters the index rows and
    * rewrites the bucketed layout (work ∝ index size, never corpus
    * text; when the forget set hashes into few buckets a targeted
    * per-bucket rewrite is the same code over a pruned scan), then the
    * standard incremental query runs against the post-forget store.
    * Oracle: the full-corpus pipeline restricted to delta pairs with
    * BOTH endpoints outside the forgotten cohort — erased docs can
    * produce no pair, which is exactly the property a compliance
    * auditor checks. StoredIndexSpec additionally pins that the
    * forgotten ids are GONE from the stored table itself. */
  def dedupForgetIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val index = spark.table(ensureForgetIndex(spark, dir))
    MinHashLSH.incrementalFromIndexResult(
        index, docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", MinhashThreshold)
      .df
      .withColumn("pair_type",
        when(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0,
          lit("delta_delta")).otherwise(lit("base_delta")))
      .orderBy("doc_a", "doc_b")
  }

  val dedupForgetIndexSql: String =
    s"""$minhashVerifiedCte
       |SELECT doc_a, doc_b, round(est_jaccard, 6) AS est_jaccard,
       |  round(jaccard, 6) AS jaccard,
       |  CASE WHEN doc_a % 10 = 0 AND doc_b % 10 = 0 THEN 'delta_delta'
       |       ELSE 'base_delta' END AS pair_type
       |FROM verified
       |WHERE jaccard >= $MinhashThreshold
       |  AND (doc_a % 10 = 0 OR doc_b % 10 = 0)
       |  AND doc_a % $ForgetMod <> $ForgetRem
       |  AND doc_b % $ForgetMod <> $ForgetRem
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Post-forget index store: the q184 store anti-filtered to drop
    * the [[ForgetRem]] cohort, rewritten bucketed (IndexStore
    * lifecycle, q188's conventions). Returns the catalog table name. */
  def ensureForgetIndex(spark: SparkSession, dir: String): String =
    PipelineQueries.synchronized {
      import graft.sources.{BucketedTables, IndexStore}
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
      val name = s"dedup_fidx_${dirTag}_$fpTag"
      if (!spark.catalog.tableExists(name)) {
        val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
        val dest = new java.io.File(storeRoot, s"graft_dedup_fidx_${dirTag}_$fpTag")
        val baseIdx = spark.table(ensureDedupIndex(spark, dir))
        IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
          val stagingName = s"${name}_staging"
          BucketedTables.writeBucketed(
            baseIdx.filter(col("id") % ForgetMod =!= ForgetRem),
            stagingName, staging.getPath, "id", 8)
          spark.sql(s"DROP TABLE IF EXISTS $stagingName")
        }
        IndexStore.registerBucketed(spark, name, dest.getPath, baseIdx.schema, "id", 8)
        IndexStore.cleanupSuperseded(spark, storeRoot,
          s"graft_dedup_fidx_${dirTag}_", dest.getName,
          s"dedup_fidx_${dirTag}_", name)
      }
      name
    }

  // ---- q219: STREAMING vector ingestion into the ANN store ------------

  /** The vector twin of q204/q210's streaming ingestion: delta
    * embeddings (vec_id % [[AnnDeltaMod]] == 0) arrive as a file
    * stream and every micro-batch is ASSIGNED against the FROZEN
    * stored quantizer (one projection per vector — work ∝ batch,
    * never a retrain) and published as an immutable `seg_<batchId>`
    * of (vec_id, embedding, cell) rows — the exactly-once segment
    * convention (checkpoint replays only uncommitted batches; a
    * replayed batch overwrites its OWN segment). Assignment is
    * per-vector, so the segment union is trivially invariant to batch
    * boundaries and equals q108's one-shot assignment bitwise.
    * Serving searches the stored base corpus ∪ every segment in the
    * exhaustive-probe gate regime — q13's brute-force oracle
    * verbatim — and reads embeddings.parquet ONLY for the query
    * vectors: base vectors come from the store, delta vectors from
    * the segments (stronger than q185's scan set; StreamScreenSpec
    * pins it on the plan, with multi-batch ≡ one-shot and the
    * marker/checkpoint no-op replay). */
  def streamAnnIngest(spark: SparkSession, dir: String): DataFrame = {
    val dest = ensureAnnIngestStream(spark, dir)
    val base = ensureIvfIndex(spark, dir)
    val centroids = spark.read.parquet(s"$base/centroids")
      .orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    val stored = spark.read.parquet(s"$base/corpus")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val segs = RetrievalQueries.segmentDirs(dest)
    require(segs.nonEmpty, s"ANN ingest stream produced no segments under $dest")
    val streamed = segs.map(s => spark.read.parquet(s"${s.getPath}/vectors"))
      .reduce(_.unionByName(_))
      .select(col("vec_id"), col("embedding"), col("cell"))
    val queries = table(spark, dir, "embeddings")
      .filter(col("vec_id") < KnnQueries)
    IvfIndex.search(stored.unionByName(streamed), "vec_id", "embedding",
        queries, centroids, KnnK, nprobe = AnnNlist)
      .orderBy("query_id", "rank")
  }

  /** Exhaustive probing over store ∪ segments ≡ brute force over the
    * full corpus — q13's oracle verbatim. (lazy: knnCosineSql is
    * declared later in this object; a plain val would capture null.) */
  lazy val streamAnnIngestSql: String = knnCosineSql

  private[graft] def streamAnnLocation(dir: String): java.io.File = {
    import graft.sources.IndexStore
    val dirTag = IndexStore.pathTag(dir)
    val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/embeddings.parquet"))
    new java.io.File(new java.io.File(sys.props("java.io.tmpdir")),
      s"graft_ann_stream_${dirTag}_$fpTag")
  }

  /** Drain the assignment-ingest stream once per fingerprint
    * generation ([[ensureScreenedStream]]'s marker/cleanup shape). */
  private[graft] def ensureAnnIngestStream(spark: SparkSession, dir: String,
      glob: String = "embeddings.parquet",
      maxFilesPerTrigger: Int = 0): java.io.File =
    PipelineQueries.synchronized {
      import graft.sources.IndexStore
      val dest = streamAnnLocation(dir)
      dest.mkdirs()
      val drained = new java.io.File(dest, "_INGESTED")
      if (!drained.exists()) {
        runAnnIngestStream(spark, dir, glob, maxFilesPerTrigger, dest)
        java.nio.file.Files.write(drained.toPath, Array.emptyByteArray)
        IndexStore.cleanupSuperseded(spark,
          new java.io.File(sys.props("java.io.tmpdir")),
          s"graft_ann_stream_${IndexStore.pathTag(dir)}_", dest.getName,
          s"graft_ann_stream_${IndexStore.pathTag(dir)}_", dest.getName)
      }
      dest
    }

  /** One AvailableNow drain: per batch, frozen-quantizer assignment →
    * immutable segment. */
  private[graft] def runAnnIngestStream(spark: SparkSession, dir: String,
      glob: String, maxFilesPerTrigger: Int, dest: java.io.File): Unit = {
    val base = ensureIvfIndex(spark, dir)
    val centroids = spark.read.parquet(s"$base/centroids")
      .orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    QueryUtil.withStreamStatePartitions(spark) { s =>
      val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
      var reader = s.readStream.schema(schema).option("pathGlobFilter", glob)
      if (maxFilesPerTrigger > 0)
        reader = reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      val src = reader.parquet(dir).filter(col("vec_id") % AnnDeltaMod === 0)
      val assignAndPublish: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, batchId) => {
          val seg = new java.io.File(dest, f"seg_$batchId%05d")
          IvfIndex.assign(batch.toDF(), "vec_id", "embedding", centroids)
            .select(col("vec_id"), col("embedding"), col("cell"))
            .write.mode("overwrite").parquet(s"${seg.getPath}/vectors")
        }
      val q = src.writeStream
        .foreachBatch(assignAndPublish)
        .option("checkpointLocation", s"${dest.getPath}/checkpoint")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      QueryUtil.awaitOrFail(q)
    }
  }

  // ---- q221: segment PROMOTION into a new ANN base generation ---------

  /** The LSM merge step q219 creates the need for: after enough
    * streamed segments accumulate, serving (base ∪ N segment scans)
    * pays N+1 scan setups and loses cell-partition pruning on the
    * delta — so promotion rewrites base corpus ∪ segments into ONE new
    * cell-partitioned base generation (centroids copied verbatim: the
    * quantizer stays frozen, promotion moves bytes, it never
    * re-trains) under the same staging→rename [[graft.sources
    * .IndexStore]] lifecycle. Serving after promotion is q219's
    * search reading ONLY the promoted store — zero segment scans, zero
    * old-base scans, embeddings touched for the query vectors alone —
    * and returns bitwise q219's (hence q108's) rows, which is the
    * whole point: maintenance must be invisible to queries.
    * StreamScreenSpec pins the scan set, the cell=* layout, and the
    * equality. */
  def annPromotion(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureAnnPromoted(spark, dir)
    val centroids = spark.read.parquet(s"$root/centroids")
      .orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    val corpus = spark.read.parquet(s"$root/corpus")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val queries = table(spark, dir, "embeddings")
      .filter(col("vec_id") < KnnQueries)
    IvfIndex.search(corpus, "vec_id", "embedding", queries, centroids,
        KnnK, nprobe = AnnNlist)
      .orderBy("query_id", "rank")
  }

  /** Promotion is invisible to serving: exhaustive probing over the
    * promoted store ≡ brute force over the full corpus (q13's oracle
    * verbatim). */
  lazy val annPromotionSql: String = knnCosineSql

  /** Build the promoted generation once per source fingerprint: base
    * IVF corpus ∪ every streamed segment, rewritten cell-partitioned;
    * centroids copied. Idempotent and crash-safe via
    * [[graft.sources.IndexStore.publish]]. */
  private[graft] def ensureAnnPromoted(spark: SparkSession, dir: String): String =
    PipelineQueries.synchronized {
      import graft.sources.IndexStore
      val segRoot = ensureAnnIngestStream(spark, dir)
      val base = ensureIvfIndex(spark, dir)
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(
        new java.io.File(s"$dir/embeddings.parquet"))
      val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
      val dest = new java.io.File(storeRoot,
        s"graft_ann_promoted_${dirTag}_$fpTag")
      def valid(root: java.io.File): Boolean =
        IndexStore.hasSuccess(new java.io.File(root, "corpus")) &&
          IndexStore.hasSuccess(new java.io.File(root, "centroids"))
      IndexStore.publish(dest, valid) { staging =>
        val stored = spark.read.parquet(s"$base/corpus")
          .select(col("vec_id"), col("embedding"), col("cell"))
        val segs = RetrievalQueries.segmentDirs(segRoot)
        val streamed = segs
          .map(s => spark.read.parquet(s"${s.getPath}/vectors"))
          .reduce(_.unionByName(_))
          .select(col("vec_id"), col("embedding"), col("cell"))
        stored.unionByName(streamed)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$staging/corpus")
        spark.read.parquet(s"$base/centroids")
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/centroids")
      }
      IndexStore.cleanupSuperseded(spark, storeRoot,
        s"graft_ann_promoted_${dirTag}_", dest.getName,
        s"graft_ann_promoted_${dirTag}_", dest.getName)
      dest.getPath
    }

  // ---- q217: index-generation DIFF (two stores, zero text reads) ------

  /** The ops primitive the maintenance quadrant was missing: WHAT
    * CHANGED between two generations of the dedup index — q184's base
    * store vs q193's upserted store — computed ENTIRELY from the
    * stores (one full-outer id join over two bucketed tables; zero
    * documents reads, which the plan spec pins: this is the audit an
    * operator runs AFTER maintenance, when the corpus may already be
    * gone). Per id: `added` (new only), `removed` (old only),
    * `changed` (any of the 32 signature columns or the verify-set
    * array differs), `unchanged`; output is the per-class count +
    * id checksum. For this pair of generations the expected shape is
    * exactly {changed = the [[UpsertMod]]/[[UpsertRem]] cohort,
    * unchanged = the rest} — but the operator asserts nothing of the
    * sort: the ORACLE re-derives both generations' rows from the
    * original and revised corpus text (stored rows are deterministic
    * per-doc functions of text — the q184 equality argument) and
    * diffs them in SQL, so a stale row, a missed edit, or an
    * over-broad rewrite lands in the wrong class and fails the
    * hash. */
  def indexDiff(spark: SparkSession, dir: String): DataFrame =
    indexDiffOf(
      spark.table(ensureDedupIndex(spark, dir)),
      spark.table(ensureUpsertIndex(spark, dir)))

  /** The diff core over any two index-row generations (id, h0..h31,
    * sh) — exposed so the spec can drive the added/removed classes
    * with the forget store (rows only ever change in the upsert
    * pair). */
  private[graft] def indexDiffOf(oldIdx: DataFrame, newIdx: DataFrame): DataFrame = {
    val a = oldIdx.toDF(oldIdx.columns.map(c => s"a_$c").toIndexedSeq: _*)
    val b = newIdx.toDF(newIdx.columns.map(c => s"b_$c").toIndexedSeq: _*)
    val same = (0 until MinHashLSH.NumHashes)
      .map(i => col(s"a_h$i") === col(s"b_h$i"))
      .reduce(_ && _) && col("a_sh") === col("b_sh")
    a.join(b, col("a_id") === col("b_id"), "full_outer")
      .select(coalesce(col("a_id"), col("b_id")).as("id"),
        when(col("a_id").isNull, lit("added"))
          .when(col("b_id").isNull, lit("removed"))
          .when(same, lit("unchanged"))
          .otherwise(lit("changed")).as("change"))
      .groupBy("change")
      .agg(count(lit(1)).as("n"), sum(col("id")).as("id_checksum"))
      .orderBy("change")
  }

  /** Re-derived index rows (id, h0..h31, sorted verify-set hashes) as
    * SQL CTEs with the given prefix, over `docsSql`. */
  private def indexRowsCte(p: String, docsSql: String): String = {
    val n = MinHashLSH.NumHashes
    val sigMins = (0 until n)
      .map(i => s"min(${Hashing.affineSql(i, "x")}) AS h$i").mkString(",\n    ")
    s"""${p}tok AS (
       |  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM $docsSql),
       |${p}sets AS (
       |  SELECT id, ${Hashing.wordShinglesSql("w", 3)} AS sh FROM ${p}tok),
       |${p}xs AS (
       |  SELECT id, ${Hashing.x31Sql("shingle")} AS x
       |  FROM (SELECT id, unnest(sh) AS shingle FROM ${p}sets)),
       |${p}sig AS (SELECT id, $sigMins FROM ${p}xs GROUP BY id),
       |${p}row AS (
       |  SELECT s.*, list_sort(list_transform(t.sh, e -> ${Hashing.h60Sql("e")}))
       |    AS shh
       |  FROM ${p}sig s JOIN ${p}sets t USING (id))""".stripMargin
  }

  // lazy: references the q193 constants declared LATER in this object —
  // a plain val would capture their pre-initialization defaults (0/null)
  lazy val indexDiffSql: String = {
    val origDocs =
      "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0)"
    val revisedDocs =
      s"""(SELECT doc_id,
         |     CASE WHEN doc_id % $UpsertMod = $UpsertRem
         |          THEN text || '$UpsertSuffix' ELSE text END AS text
         |   FROM documents WHERE doc_id % 10 <> 0)""".stripMargin
    val sigSame = (0 until MinHashLSH.NumHashes)
      .map(i => s"a.h$i = b.h$i").mkString(" AND ")
    s"""WITH ${indexRowsCte("a", origDocs)},
       |${indexRowsCte("b", revisedDocs)},
       |d AS (
       |  SELECT coalesce(a.id, b.id) AS id,
       |    CASE WHEN a.id IS NULL THEN 'added'
       |         WHEN b.id IS NULL THEN 'removed'
       |         WHEN $sigSame AND a.shh = b.shh THEN 'unchanged'
       |         ELSE 'changed' END AS change
       |  FROM arow a FULL OUTER JOIN brow b ON a.id = b.id)
       |SELECT change, count(*)::BIGINT AS n, sum(id)::BIGINT AS id_checksum
       |FROM d GROUP BY change ORDER BY change""".stripMargin
  }

  // ---- q210: STREAMING near-dup screening against the stored index ----

  /** The ONLINE dedup loop a live crawl runs against the q184 store:
    * delta documents arrive as a stream, and every micro-batch is
    * (1) SCREENED — near-dup pairs against the stored base index PLUS
    * every previously ingested streamed segment, plus the batch's own
    * self-pairs ([[graft.dedup.MinHashLSH.incrementalFromIndexResult]]
    * computes exactly that cross+self set) — then (2) INGESTED: the
    * batch's own [[graft.dedup.MinHashLSH.indexRows]] land as an
    * immutable `seg_<batchId>` (q204's exactly-once convention: the
    * checkpoint replays only uncommitted batches, and a replayed batch
    * overwrites its OWN segment idempotently, so a crash at any point
    * leaves either a committed batch or a torn segment its own replay
    * rewrites). Screen-before-ingest plus the within-batch self-join
    * makes the emitted pair set INVARIANT to batch boundaries: both
    * sides in one batch → the self-join finds the pair; split across
    * batches → the later batch screens against the earlier's segment;
    * base pairs → the delta side's own batch finds them — and no pair
    * is found twice, because a segment is screened against only by
    * strictly later batches. The union over ANY batching is therefore
    * exactly q81's delta-touching pair set, which is how the oracle
    * gates it (the full-corpus SQL restricted to delta-touching pairs,
    * verbatim). Base text is never read: the corpus side is the stored
    * index + streamed segments, and the only documents scan is the
    * stream source with the delta predicate on it. Work per batch ∝
    * batch + collisions (verify sets semi-joined to candidate ids
    * exactly as in q184). StreamScreenSpec pins the batching
    * invariance (1-file-per-trigger multi-batch ≡ single batch ≡ the
    * recompute path), per-segment no-duplicate-pair coverage, the
    * exactly-once replay (drained marker → re-invoke touches no
    * segment bytes), and fingerprint-change re-screening. */
  def streamDedupScreen(spark: SparkSession, dir: String): DataFrame = {
    val dest = ensureScreenedStream(spark, dir)
    val segs = RetrievalQueries.segmentDirs(dest)
    require(segs.nonEmpty, s"screen stream produced no segments under $dest")
    segs.map(s => spark.read.parquet(s"${s.getPath}/pairs"))
      .reduce(_.unionByName(_))
      .withColumn("pair_type",
        when(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0,
          lit("delta_delta")).otherwise(lit("base_delta")))
      .orderBy("doc_a", "doc_b")
  }

  val streamDedupScreenSql: String = dedupIncrementalSql

  private[graft] def streamScreenLocation(dir: String): java.io.File = {
    import graft.sources.IndexStore
    val dirTag = IndexStore.pathTag(dir)
    val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
    new java.io.File(new java.io.File(sys.props("java.io.tmpdir")),
      s"graft_dedup_stream_${dirTag}_$fpTag")
  }

  /** Drain the screen-and-ingest stream once per (sf-dir fingerprint)
    * generation — marker fast path, superseded-generation cleanup and
    * crash semantics exactly as
    * [[RetrievalQueries.ensureStreamIngestedIndex]] (no catalog
    * entries: segments are read by path). */
  private[graft] def ensureScreenedStream(spark: SparkSession, dir: String,
      glob: String = "documents.parquet",
      maxFilesPerTrigger: Int = 0): java.io.File =
    PipelineQueries.synchronized {
      import graft.sources.IndexStore
      val dest = streamScreenLocation(dir)
      dest.mkdirs()
      val drained = new java.io.File(dest, "_SCREENED")
      if (!drained.exists()) {
        runScreenStream(spark, dir, glob, maxFilesPerTrigger, dest)
        java.nio.file.Files.write(drained.toPath, Array.emptyByteArray)
        IndexStore.cleanupSuperseded(spark,
          new java.io.File(sys.props("java.io.tmpdir")),
          s"graft_dedup_stream_${IndexStore.pathTag(dir)}_", dest.getName,
          s"graft_dedup_stream_${IndexStore.pathTag(dir)}_", dest.getName)
      }
      dest
    }

  // ---- q214: Bloom seen-set store (crawl frontier dedup) --------------

  /** Bloom bit-array size (2^20) and hash count. At 10⁸ base docs a
    * production deployment scales m with n (bits ≈ 10·n for ~1% FP);
    * the occupied-position encoding below stores only SET bits, so
    * the store stays ∝ occupancy either way. */
  val BloomM = 1 << 20
  val BloomK = 3

  /** Revisit slice: every 7th base doc re-enters the frontier (the
    * crawler re-encountering a known URL) — the rows that make the
    * Bloom guarantee LIVE in the gate at every SF (the corpus has no
    * natural cross-shard exact dup, so without them the hit branch
    * would be exercised only by rare FPs). */
  val BloomRevisitMod = 7L

  /** The crawl frontier's FIRST gate: an already-seen check against a
    * Bloom filter of the base corpus's exact text digests, persisted
    * AT REST — the screen a fetcher consults before wasting a fetch /
    * a dedup pass consults before hashing shingles. The frontier
    * under test is fresh delta docs (doc_id % 10 == 0) plus a
    * [[BloomRevisitMod]] revisit slice of base docs. The stored
    * object is the SET BITS as an occupied-position table (distinct
    * `pos` longs — KB-to-MB scale, broadcastable; an explicit bitmap
    * blob would need a UDF to probe, a position table probes with a
    * plain broadcast equi-join, and empty-vs-set density is the
    * store's own documentation). Positions are md5-derived
    * ([[graft.text.Hashing.x31]] over `"j:" || digest`, j = 1..k, mod
    * [[BloomM]]), so the filter — INCLUDING its false positives — is
    * a deterministic pure function of the base text: the oracle
    * rebuilds the identical bit set in SQL and the verdicts gate
    * hash-exact, FPs and all. Per frontier doc: `bloom_hit` ⇔ all k
    * positions occupied. Every revisit row MUST hit — no false
    * negative is possible by construction (a seen digest's positions
    * are all set: the Bloom guarantee, live in the oracle via the
    * revisit slice and spec-pinned besides); false positives on the
    * fresh side are the documented trade (measured, never hidden:
    * the verdict is `maybe-seen`, not `seen`). Serving scans ONLY
    * frontier documents (the frontier predicate on the one documents
    * scan) + the broadcast store. */
  def bloomSeen(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Hashing
    val store = ensureBloomStore(spark, dir)
    val occ = spark.read.parquet(new java.io.File(store, "positions").getPath)
    val frontier = table(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0 ||
        (col("doc_id") % 10 =!= 0 && col("doc_id") % BloomRevisitMod === 0))
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, lit("fresh"))
          .otherwise(lit("revisit")).as("probe_type"),
        md5(col("text")).as("d"))
    val dp = frontier.select(col("doc_id"), explode(array(
      (1 to BloomK).map(j =>
        Hashing.x31(concat(lit(s"$j:"), col("d"))) % BloomM): _*)).as("pos"))
    val hits = dp.join(occ, "pos")
      .groupBy("doc_id").agg(count(lit(1)).as("h"))
    frontier.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("probe_type"),
        (coalesce(col("h"), lit(0L)) === BloomK).as("bloom_hit"))
      .orderBy("doc_id")
  }

  val bloomSeenSql: String = {
    import graft.text.Hashing
    def posSql(j: Int): String =
      s"(${Hashing.x31Sql(s"'$j:' || d")} % $BloomM)"
    val posList = (1 to BloomK).map(posSql).mkString(", ")
    s"""WITH base AS (
       |  SELECT md5(text) AS d FROM documents WHERE doc_id % 10 <> 0),
       |occ AS (
       |  SELECT DISTINCT unnest([$posList]) AS pos FROM base),
       |frontier AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 0 THEN 'fresh' ELSE 'revisit' END
       |      AS probe_type,
       |    md5(text) AS d
       |  FROM documents
       |  WHERE doc_id % 10 = 0
       |     OR (doc_id % 10 <> 0 AND doc_id % $BloomRevisitMod = 0)),
       |dp AS (
       |  SELECT doc_id, unnest([$posList]) AS pos FROM frontier),
       |hits AS (
       |  SELECT doc_id, count(*)::BIGINT AS h
       |  FROM dp JOIN occ USING (pos) GROUP BY doc_id)
       |SELECT frontier.doc_id, probe_type, coalesce(h, 0) = $BloomK AS bloom_hit
       |FROM frontier LEFT JOIN hits USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Persisted Bloom seen-set over the base shard's text digests
    * (occupied positions only), [[graft.sources.IndexStore]]
    * lifecycle. Returns the published store root. */
  def ensureBloomStore(spark: SparkSession, dir: String): java.io.File =
    PipelineQueries.synchronized {
      import graft.sources.IndexStore
      import graft.text.Hashing
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
      val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
      val dest = new java.io.File(storeRoot, s"graft_bloom_seen_${dirTag}_$fpTag")
      def valid(root: java.io.File): Boolean =
        IndexStore.hasSuccess(new java.io.File(root, "positions"))
      IndexStore.publish(dest, valid) { staging =>
        table(spark, dir, "documents")
          .filter(col("doc_id") % 10 =!= 0)
          .select(md5(col("text")).as("d"))
          .select(explode(array((1 to BloomK).map(j =>
            Hashing.x31(concat(lit(s"$j:"), col("d"))) % BloomM): _*)).as("pos"))
          .distinct()
          .coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(staging, "positions").getPath)
      }
      IndexStore.cleanupSuperseded(spark, storeRoot,
        s"graft_bloom_seen_${dirTag}_", dest.getName,
        s"graft_bloom_seen_${dirTag}_", dest.getName)
      dest
    }

  /** One AvailableNow drain of the screen-and-ingest stream (the
    * checkpointed exactly-once layer under [[ensureScreenedStream]]'s
    * marker fast path — callable directly to exercise a restart). */
  private[graft] def runScreenStream(spark: SparkSession, dir: String,
      glob: String, maxFilesPerTrigger: Int, dest: java.io.File): Unit = {
    val baseName = ensureDedupIndex(spark, dir)
    QueryUtil.withStreamStatePartitions(spark) { s =>
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      var reader = s.readStream.schema(schema).option("pathGlobFilter", glob)
      if (maxFilesPerTrigger > 0)
        reader = reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      val src = reader.parquet(dir).filter(col("doc_id") % 10 === 0)
      val screenThenIngest: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, batchId) => {
          val ss = batch.sparkSession
          val segName = f"seg_$batchId%05d"
          val prior = RetrievalQueries.segmentDirs(dest)
            .filter(_.getName < segName)
            .map(f => ss.read.parquet(s"${f.getPath}/index"))
          val idx = prior.foldLeft(ss.table(baseName))(_.unionByName(_))
          val res = MinHashLSH.incrementalFromIndexResult(
            idx, batch.toDF(), "doc_id", "text", MinhashThreshold)
          val seg = new java.io.File(dest, segName)
          res.df.write.mode("overwrite").parquet(s"${seg.getPath}/pairs")
          res.release()
          MinHashLSH.indexRows(batch.toDF(), "doc_id", "text")
            .write.mode("overwrite").parquet(s"${seg.getPath}/index")
        }
      val q = src.writeStream
        .foreachBatch(screenThenIngest)
        .option("checkpointLocation", s"${dest.getPath}/checkpoint")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      QueryUtil.awaitOrFail(q)
    }
  }

  // ---- q193: CDC upsert applied to the stored index -------------------

  /** Revised cohort: docs with doc_id % 40 == 3 play the "document was
    * edited upstream" CDC batch. 40k+3 ≡ 3 (mod 10), so every cohort
    * doc is base-side by construction — the edit batch and the q81
    * delta shard are disjoint. */
  val UpsertMod = 40L
  val UpsertRem = 3L

  /** The revision every cohort doc receives — a pure SQL-expressible
    * function of the stored text so the oracle regenerates the edited
    * corpus exactly. */
  val UpsertSuffix = " rev rev rev"

  /** The update quadrant of index maintenance (q184 creates/reads,
    * q188 compacts, q191 deletes — this UPSERTS): a CDC batch of
    * edited documents must replace their rows in the stored dedup
    * index, recomputing signatures ONLY for the edited cohort — work ∝
    * changed docs + index size for the rewrite, never ∝ corpus text.
    * The upsert is an anti-filter of the old rows + a union of the
    * cohort's re-derived rows, rewritten into the bucketed layout; the
    * standard incremental query then runs against the upserted store.
    * Oracle: the full-corpus pipeline over the EDITED corpus (the
    * cohort's revision applied in SQL) restricted to delta-touching
    * pairs — so a stale index row, a missed edit, or an over-broad
    * rewrite all change pair membership and fail the hash.
    * StoredIndexSpec pins the structural side: documents scans carry
    * the delta or cohort predicate only, and the stored rows for the
    * cohort differ from the pre-upsert store. */
  def dedupUpsertIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val index = spark.table(ensureUpsertIndex(spark, dir))
    MinHashLSH.incrementalFromIndexResult(
        index, docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", MinhashThreshold)
      .df
      .withColumn("pair_type",
        when(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0,
          lit("delta_delta")).otherwise(lit("base_delta")))
      .orderBy("doc_a", "doc_b")
  }

  val dedupUpsertIndexSql: String = {
    val editedDocs =
      s"""(SELECT doc_id,
         |     CASE WHEN doc_id % $UpsertMod = $UpsertRem
         |          THEN text || '$UpsertSuffix' ELSE text END AS text
         |   FROM documents)""".stripMargin
    s"""${minhashVerifiedCteFrom(editedDocs)}
       |SELECT doc_a, doc_b, round(est_jaccard, 6) AS est_jaccard,
       |  round(jaccard, 6) AS jaccard,
       |  CASE WHEN doc_a % 10 = 0 AND doc_b % 10 = 0 THEN 'delta_delta'
       |       ELSE 'base_delta' END AS pair_type
       |FROM verified
       |WHERE jaccard >= $MinhashThreshold
       |  AND (doc_a % 10 = 0 OR doc_b % 10 = 0)
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Post-upsert index store: the q184 store with the [[UpsertRem]]
    * cohort's rows replaced by rows re-derived from the REVISED text
    * (IndexStore lifecycle, q188/q191's conventions). Only the cohort's
    * documents are read — the anti-filtered survivors come from the
    * stored index, not from text. Returns the catalog table name. */
  def ensureUpsertIndex(spark: SparkSession, dir: String): String =
    PipelineQueries.synchronized {
      import graft.sources.{BucketedTables, IndexStore}
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
      val name = s"dedup_uidx_${dirTag}_$fpTag"
      if (!spark.catalog.tableExists(name)) {
        val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
        val dest = new java.io.File(storeRoot, s"graft_dedup_uidx_${dirTag}_$fpTag")
        val baseIdx = spark.table(ensureDedupIndex(spark, dir))
        IndexStore.publish(dest, IndexStore.hasSuccess) { staging =>
          val revised = table(spark, dir, "documents")
            .filter(col("doc_id") % UpsertMod === UpsertRem &&
              col("doc_id") % 10 =!= 0)
            .withColumn("text", concat(col("text"), lit(UpsertSuffix)))
          val upserted = baseIdx.filter(col("id") % UpsertMod =!= UpsertRem)
            .unionByName(MinHashLSH.indexRows(revised, "doc_id", "text"))
          val stagingName = s"${name}_staging"
          BucketedTables.writeBucketed(upserted, stagingName, staging.getPath, "id", 8)
          spark.sql(s"DROP TABLE IF EXISTS $stagingName")
        }
        IndexStore.registerBucketed(spark, name, dest.getPath, baseIdx.schema, "id", 8)
        IndexStore.cleanupSuperseded(spark, storeRoot,
          s"graft_dedup_uidx_${dirTag}_", dest.getName,
          s"dedup_uidx_${dirTag}_", name)
      }
      name
    }

  // ---- q232: STREAMING CDC upsert overlay on the stored index ---------

  /** q193's upsert arriving as a STREAM: the edited cohort
    * (doc_id % [[UpsertMod]] == [[UpsertRem]], revised text) flows in
    * as a file stream, every micro-batch re-derives index rows for
    * ITS docs only (work ∝ batch) and publishes them as an immutable
    * OVERLAY segment carrying its batch id — the exactly-once
    * convention of q204/q219 extended from append to UPSERT: serving
    * resolves each id to its highest-batch overlay row, falling back
    * to the base store for untouched ids (an anti-join, never a text
    * re-derive), and runs the standard incremental query against that
    * effective index. Bitwise ≡ q193's at-rest upsert (and both share
    * the oracle: the full pipeline over the edited corpus), which is
    * the point — HOW the edit arrived (rest vs stream) must be
    * invisible to queries. StreamScreenSpec pins the equality and the
    * scan set (documents read only for the delta shard at serve
    * time). */
  def streamUpsertIndex(spark: SparkSession, dir: String): DataFrame = {
    val dest = ensureUpsertStream(spark, dir)
    val base = spark.table(ensureDedupIndex(spark, dir))
    val segs = RetrievalQueries.segmentDirs(dest)
    require(segs.nonEmpty, s"upsert stream produced no segments under $dest")
    val over = segs.map(s => spark.read.parquet(s"${s.getPath}/rows"))
      .reduce(_.unionByName(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("seg_batch").desc)
    // eager (graft.Scratch.eager): the effective index is read four
    // times by the screen (band keys, both estimate joins, verify
    // sets) — uncached, each read re-ran the segment union + window +
    // anti-join overlay resolution. The overlay is ∝ the CDC batches,
    // never the corpus, so caching it is the scale-correct side (the
    // base index stays a plain file scan, deliberately unpersisted).
    val latest = graft.Scratch.eager(over
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "seg_batch"))
    val eff = base.join(latest.select("id"), Seq("id"), "left_anti")
      .unionByName(latest)
    val docs = table(spark, dir, "documents")
    MinHashLSH.incrementalFromIndexResult(
        eff, docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", MinhashThreshold)
      .df
      .withColumn("pair_type",
        when(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0,
          lit("delta_delta")).otherwise(lit("base_delta")))
      .orderBy("doc_a", "doc_b")
  }

  /** Rest-vs-stream transparency: the oracle is q193's verbatim. */
  lazy val streamUpsertIndexSql: String = dedupUpsertIndexSql

  private[graft] def upsertStreamLocation(dir: String): java.io.File = {
    import graft.sources.IndexStore
    val dirTag = IndexStore.pathTag(dir)
    val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/documents.parquet"))
    new java.io.File(new java.io.File(sys.props("java.io.tmpdir")),
      s"graft_upsert_stream_${dirTag}_$fpTag")
  }

  /** Drain the CDC-edit stream once per fingerprint generation
    * (q219's marker/cleanup shape). */
  private[graft] def ensureUpsertStream(spark: SparkSession, dir: String,
      glob: String = "documents.parquet",
      maxFilesPerTrigger: Int = 0): java.io.File =
    PipelineQueries.synchronized {
      import graft.sources.IndexStore
      val dest = upsertStreamLocation(dir)
      dest.mkdirs()
      val drained = new java.io.File(dest, "_INGESTED")
      if (!drained.exists()) {
        runUpsertStream(spark, dir, glob, maxFilesPerTrigger, dest)
        java.nio.file.Files.write(drained.toPath, Array.emptyByteArray)
        IndexStore.cleanupSuperseded(spark,
          new java.io.File(sys.props("java.io.tmpdir")),
          s"graft_upsert_stream_${IndexStore.pathTag(dir)}_", dest.getName,
          s"graft_upsert_stream_${IndexStore.pathTag(dir)}_", dest.getName)
      }
      dest
    }

  /** One AvailableNow drain: per batch, re-derive index rows for the
    * batch's edited docs → immutable overlay segment tagged with the
    * batch id. */
  private[graft] def runUpsertStream(spark: SparkSession, dir: String,
      glob: String, maxFilesPerTrigger: Int, dest: java.io.File): Unit =
    QueryUtil.withStreamStatePartitions(spark) { s =>
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      var reader = s.readStream.schema(schema).option("pathGlobFilter", glob)
      if (maxFilesPerTrigger > 0)
        reader = reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      val src = reader.parquet(dir)
        .filter(col("doc_id") % UpsertMod === UpsertRem &&
          col("doc_id") % 10 =!= 0)
        .withColumn("text", concat(col("text"), lit(UpsertSuffix)))
      val publish: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, batchId) => {
          val seg = new java.io.File(dest, f"seg_$batchId%05d")
          MinHashLSH.indexRows(batch.toDF(), "doc_id", "text")
            .withColumn("seg_batch", lit(batchId))
            .write.mode("overwrite").parquet(s"${seg.getPath}/rows")
        }
      val q = src.writeStream
        .foreachBatch(publish)
        .option("checkpointLocation", s"${dest.getPath}/checkpoint")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      QueryUtil.awaitOrFail(q)
    }

  // ---- q240: quality-score AUC against duplicate labels ---------------

  /** Signal EVALUATION closing a loop between three families: is the
    * q14 quality score any good as a DUPLICATE discriminator? AUC =
    * P(random dup scores below random clean doc), computed exactly as
    * the Mann-Whitney U of q235 over integer micro-quality, with
    * labels from the q10 MinHash pipeline (a doc is "dup" iff it
    * appears in a verified pair). AUC ≈ 500‰ means the score carries
    * no dup information and a mixing plan must not use it as a dedup
    * proxy — the cheap audit that prevents exactly that mistake.
    *
    * Scale shape: the pair detector is q10's (∝ collisions); scoring
    * is one scan; the ECDF cumulative runs over DISTINCT micro-scores
    * (≤ 10⁶ cells by construction — the global window is bounded by
    * score resolution, not corpus size; an unbounded-score variant
    * would swap in the q94 two-phase PrefixSum). */
  def qualityAuc(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextStats
    import org.apache.spark.sql.expressions.Window
    val docs = table(spark, dir, "documents")
    val pairs = storedVerifiedPairs(spark, dir)
    val dupIds = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val scored = docs
      .join(dupIds.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
      .select((coalesce(col("dup"), lit(0L)) === 1L).as("isdup"),
        round(TextStats.qualityScore(col("text")) * lit(1e6))
          .cast("long").as("s"))
    val pv = scored.groupBy("isdup", "s").agg(count(lit(1)).as("c"))
      .groupBy("s").agg(
        sum(when(col("isdup"), col("c")).otherwise(0L)).as("ca"),
        sum(when(!col("isdup"), col("c")).otherwise(0L)).as("cb"))
    val byS = Window.orderBy("s")
    pv.withColumn("cumb",
        coalesce(sum("cb").over(byS.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .agg(
        sum(col("ca") * (lit(2L) * col("cumb") + col("cb"))).as("u2"),
        sum("ca").as("n_dup"), sum("cb").as("n_clean"))
      .select(col("n_dup"), col("n_clean"), col("u2"),
        expr("(1000 * u2) div (2 * n_dup * n_clean)").as("auc_permille"))
  }

  val qualityAucSql: String = {
    import graft.text.TextStats
    s"""$minhashVerifiedCte,
       |dups AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM verified
       |    WHERE jaccard >= $MinhashThreshold
       |    UNION ALL
       |    SELECT doc_b FROM verified WHERE jaccard >= $MinhashThreshold)),
       |sc AS (
       |  SELECT (dups.doc_id IS NOT NULL) AS isdup,
       |    round(${TextStats.qualityScoreSql("text")} * 1e6)::BIGINT AS s
       |  FROM documents d LEFT JOIN dups ON d.doc_id = dups.doc_id),
       |pv AS (
       |  SELECT s,
       |    sum(CASE WHEN isdup THEN 1 ELSE 0 END)::BIGINT AS ca,
       |    sum(CASE WHEN NOT isdup THEN 1 ELSE 0 END)::BIGINT AS cb
       |  FROM sc GROUP BY 1),
       |cum AS (
       |  SELECT ca, cb, coalesce(sum(cb) OVER (ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
       |  FROM pv)
       |SELECT sum(ca)::BIGINT AS n_dup, sum(cb)::BIGINT AS n_clean,
       |  sum(ca * (2 * cumb + cb))::BIGINT AS u2,
       |  ((1000 * sum(ca * (2 * cumb + cb)))
       |    // (2 * sum(ca) * sum(cb)))::BIGINT AS auc_permille
       |FROM cum""".stripMargin
  }

  // ---- q280: isotonic calibration of the quality score ----------------

  /** Calibration bins over the micro quality score (score ≤ 10⁶ →
    * bin = min(s div 15625, 63)). */
  val IsoBins = 64
  private val IsoBinWidth = 1000000L / IsoBins

  /** TURN the quality score into a probability — isotonic regression
    * (PAV) of P(near-dup | quality) over score bins: q240 proves the
    * score RANKS dup risk (AUC), q170 AUDITS a calibration; this FITS
    * one — the monotone step function every "score ≥ τ ⇒ keep"
    * threshold decision implicitly assumes, made explicit. Computed
    * via the minimax characterization
    * `iso(i) = max_{j≤i} min_{k≥i} mean(j..k)` over the binned
    * (n, positives) table with means milli-quantized FIRST (floor) —
    * a documented quantized variant that keeps every comparison in
    * int64 and is bit-identical in both engines; monotonicity holds
    * for ANY mean matrix under minimax, so the output is always a
    * valid isotonic fit of the quantized means. Empty bins carry no
    * anchor (ranges anchor on present bins; their masses are zero in
    * every prefix difference).
    *
    * Scale shape: one detector run + one corpus scan collapse to ≤ 64
    * (bin, n, pos) rows; the minimax is a bounded triple join
    * (≤ 64³/2 rows) — constant work after the scan, like every
    * calibration table. */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextStats
    import org.apache.spark.sql.expressions.Window
    val docs = table(spark, dir, "documents")
    val pairs = storedVerifiedPairs(spark, dir)
    val dupIds = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val binned = docs
      .join(dupIds.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
      .select(
        round(TextStats.qualityScore(col("text")) * lit(1e6))
          .cast("long").as("s"),
        coalesce(col("dup"), lit(0L)).as("y"))
      .select(expr(s"least(s div $IsoBinWidth, ${IsoBins - 1})").as("bin"),
        col("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val w = Window.orderBy("bin")
    val pre = binned
      .withColumn("cn", sum("n").over(w))
      .withColumn("cp", sum("pos").over(w))
    val j = pre.select(col("bin").as("bj"),
      (col("cn") - col("n")).as("nj0"), (col("cp") - col("pos")).as("pj0"))
    val k = pre.select(col("bin").as("bk"), col("cn").as("cnk"),
      col("cp").as("cpk"))
    val ranges = j.join(k, col("bk") >= col("bj"))
      .select(col("bj"), col("bk"),
        expr("(1000 * (cpk - pj0)) div (cnk - nj0)").as("mean_milli"))
    val iso = ranges
      .join(binned.select(col("bin").as("i")),
        col("bj") <= col("i") && col("bk") >= col("i"))
      .groupBy("i", "bj").agg(min("mean_milli").as("mn"))
      .groupBy("i").agg(max("mn").as("iso_milli"))
    binned.join(iso, col("bin") === col("i"))
      .select(col("bin"), col("n"), col("pos"),
        expr("(1000 * pos) div n").as("raw_milli"), col("iso_milli"))
      .orderBy("bin")
  }

  val isotonicCalibrationSql: String = {
    import graft.text.TextStats
    s"""$minhashVerifiedCte,
       |dups AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM verified
       |    WHERE jaccard >= $MinhashThreshold
       |    UNION ALL
       |    SELECT doc_b FROM verified WHERE jaccard >= $MinhashThreshold)),
       |binned AS (
       |  SELECT least(round(${TextStats.qualityScoreSql("text")} * 1e6)
       |      ::BIGINT // $IsoBinWidth, ${IsoBins - 1}) AS bin,
       |    count(*)::BIGINT AS n,
       |    sum(CASE WHEN dups.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |      ::BIGINT AS pos
       |  FROM documents d LEFT JOIN dups ON d.doc_id = dups.doc_id
       |  GROUP BY 1),
       |pre AS (
       |  SELECT bin, n, pos,
       |    sum(n) OVER (ORDER BY bin) AS cn,
       |    sum(pos) OVER (ORDER BY bin) AS cp
       |  FROM binned),
       |ranges AS (
       |  SELECT j.bin AS bj, k.bin AS bk,
       |    ((1000 * (k.cp - (j.cp - j.pos)))
       |      // (k.cn - (j.cn - j.n)))::BIGINT AS mean_milli
       |  FROM pre j JOIN pre k ON k.bin >= j.bin),
       |iso AS (
       |  SELECT i, max(mn)::BIGINT AS iso_milli FROM (
       |    SELECT b.bin AS i, r.bj, min(r.mean_milli) AS mn
       |    FROM ranges r JOIN binned b
       |      ON r.bj <= b.bin AND r.bk >= b.bin
       |    GROUP BY 1, 2)
       |  GROUP BY 1)
       |SELECT b.bin, b.n, b.pos,
       |  ((1000 * b.pos) // b.n)::BIGINT AS raw_milli, iso.iso_milli
       |FROM binned b JOIN iso ON iso.i = b.bin
       |ORDER BY b.bin""".stripMargin
  }

  // ---- q11: SimHash near-dup -----------------------------------------

  val SimhashMaxHamming = 3

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    // persisted fingerprints ride inside the CachedResult; the Bench/
    // Verify harnesses clear the cache between queries, and library
    // callers get release() via SimHash.nearDuplicatesResult directly
    SimHash.nearDuplicatesResult(table(spark, dir, "documents"),
        "doc_id", "text", SimhashMaxHamming)
      .df.orderBy("doc_a", "doc_b")

  val dedupSimhashSql: String = {
    val bitSums = (0 until SimHash.Bits)
      .map(b => s"sum(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n    ")
    val fpExpr = (0 until SimHash.Bits)
      .map(b => s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id AS id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |feats AS (
       |  SELECT id, unnest(${Hashing.wordShinglesSql("w", 2)}) AS feat FROM tok),
       |hx AS (SELECT id, ${Hashing.h60Sql("feat")} AS h FROM feats),
       |bits AS (SELECT id, $bitSums FROM hx GROUP BY id),
       |fp AS (SELECT id, ($fpExpr)::BIGINT AS simhash FROM bits)
       |SELECT a.id AS doc_a, b.id AS doc_b,
       |  bit_count(xor(a.simhash, b.simhash))::INT AS hamming
       |FROM fp a JOIN fp b ON a.id < b.id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q12: n-gram Jaccard similarity join ---------------------------

  // n=12: char 3-grams are useless on this corpus's ~40-word vocabulary
  // (only 377 distinct grams at sf0.1 — every doc contains most of them,
  // so no inverted-index algorithm can prune); longer grams span word
  // boundaries and make the rarest-first prefix actually selective.
  // Probed at sf0.1: n=9 → 3.8 s warm, n=12 → 1.9 s with IDENTICAL
  // verified pairs (the planted near-dups share long runs; 0.7-jaccard
  // borderline pairs don't move between 9 and 16). Same lesson as
  // q64's 12-grams and q57's 24-grams.
  val NgramN = 12
  val NgramThreshold = 0.7

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    NgramJaccard.similarPairs(table(spark, dir, "documents"),
        "doc_id", "text", NgramN, NgramThreshold)
      .orderBy("doc_a", "doc_b")

  val ngramJaccardSql: String =
    s"""WITH g AS (
       |  SELECT doc_id AS id, ${Hashing.charNgramsSql("text", NgramN)} AS gr
       |  FROM documents)
       |SELECT a.id AS doc_a, b.id AS doc_b,
       |  round(len(list_intersect(a.gr, b.gr))::DOUBLE /
       |    (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))), 6) AS jaccard
       |FROM g a JOIN g b ON a.id < b.id
       |WHERE len(list_intersect(a.gr, b.gr))::DOUBLE /
       |    (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) >= $NgramThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q13: brute-force cosine top-k ---------------------------------

  val KnnQueries = 16
  val KnnK = 5

  def knnCosine(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < KnnQueries)
    CosineKnn.topK(emb, "vec_id", "embedding", queries, KnnK)
      .orderBy("query_id", "rank")
  }

  // ---- q249: hubness audit of the embedding space ----------------------

  /** Neighbors per query in the hubness kNN graph. */
  val HubK = 5

  /** k-occurrence HUBNESS audit — the classic high-dimensional
    * pathology every vector-search deployment should measure before
    * trusting its kNN graph: a few "hub" vectors appear in a huge
    * share of other points' neighbor lists (and "antihubs" in none),
    * which silently skews ANN recall, dedup clustering (q24/q86), and
    * contrastive sampling (q121). Builds the all-vectors kNN graph
    * (k = [[HubK]], the q13 ranking contract: cos desc, id asc) and
    * reports the k-occurrence histogram — occ = how many lists a
    * vector appears in; Σ occ·n_vecs = n·k by construction, mean
    * occurrence is EXACTLY k, hubs sit at occ ≥ 2k, antihubs at 0.
    *
    * Scale shape: the corpus is scanned once against a broadcast
    * query set (no corpus shuffle; dot products in codegen). The
    * all-vectors query set makes this the documented EXACT-regime
    * O(n²) path (CosineKnn.topK doc) — bounded-size embedding tables
    * only; at 100 TB the query set becomes the q185/q202 IVF-stored
    * graph and this audit runs unchanged over its output (the
    * histogram is then the APPROXIMATE graph's hubness — which is the
    * graph production actually serves). */
  def hubnessAudit(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val knn = CosineKnn.topK(emb, "vec_id", "embedding", emb, HubK)
    val occ = knn.groupBy(col("neighbor_id")).agg(count(lit(1)).as("occ"))
    emb.select(col("vec_id")).join(occ,
        col("vec_id") === col("neighbor_id"), "left")
      .select(coalesce(col("occ"), lit(0L)).as("occ"))
      .groupBy("occ").agg(count(lit(1)).as("n_vecs"))
      .withColumn("is_hub", col("occ") >= 2L * HubK)
      .orderBy("occ")
  }

  val hubnessAuditSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |s AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |    list_cosine_similarity(q.e, v.e) AS cos
       |  FROM v q, v WHERE v.vec_id <> q.vec_id),
       |r AS (
       |  SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM s),
       |occ AS (
       |  SELECT neighbor_id, count(*)::BIGINT AS occ FROM r
       |  WHERE rk <= $HubK GROUP BY 1),
       |pv AS (
       |  SELECT v.vec_id, coalesce(occ.occ, 0)::BIGINT AS occ
       |  FROM v LEFT JOIN occ ON occ.neighbor_id = v.vec_id)
       |SELECT occ, count(*)::BIGINT AS n_vecs, occ >= ${2 * HubK} AS is_hub
       |FROM pv GROUP BY occ ORDER BY occ""".stripMargin

  val knnCosineSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id, e FROM v WHERE vec_id < $KnnQueries),
       |s AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |    list_cosine_similarity(q.e, v.e) AS cos
       |  FROM q, v WHERE v.vec_id <> q.vec_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM s)
       |SELECT query_id, rk::INT AS "rank", neighbor_id, round(cos, 6) AS cos
       |FROM r WHERE rk <= $KnnK ORDER BY query_id, rk""".stripMargin

  // ---- q14: text quality / token stats -------------------------------

  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    // repartition: one input split, ~10 regex/split passes per row
    graft.Partitioning.spread(table(spark, dir, "documents"), col("doc_id")).select(
        col("doc_id"),
        TextStats.nTokens(t).as("n_tokens"),
        TextStats.nSubwordTokens(t).as("n_subwords"),
        round(TextStats.alnumRatio(t), 6).as("alnum_ratio"),
        round(TextStats.stopwordRatio(t), 6).as("stopword_ratio"),
        round(TextStats.meanTokenLen(t), 6).as("mean_token_len"),
        TextStats.qualityScore(t).as("quality"))
      .orderBy("doc_id")
  }

  val textQualitySql: String =
    s"""SELECT doc_id, ${TextStats.nTokensSql("text")} AS n_tokens,
       |  ${TextStats.nSubwordTokensSql("text")} AS n_subwords,
       |  round(${TextStats.alnumRatioSql("text")}, 6) AS alnum_ratio,
       |  round(${TextStats.stopwordRatioSql("text")}, 6) AS stopword_ratio,
       |  round(${TextStats.meanTokenLenSql("text")}, 6) AS mean_token_len,
       |  ${TextStats.qualityScoreSql("text")} AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q15: language ID ----------------------------------------------

  /** Explode + conditional-sum plan (NOT the single-expression
    * [[TextStats.langId]]: the per-language argmax fold would duplicate
    * the tokenize-filter subtree exponentially — 4x wall-clock at sf0.1).
    * One token explode, one (doc, lang-scores) partial-agg shuffle, a
    * cheap argmax projection, then the tiny confusion-matrix aggregate. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val toks = graft.Partitioning.spread(docs, col("doc_id")).select(col("doc_id"), col("lang"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val sums = TextStats.langMarkerSums(col("tok"))
      .map { case (lang, c) => c.as(s"sc_$lang") }
    val scored = toks.groupBy("doc_id", "lang").agg(sums.head, sums.tail: _*)
    val pred = scored.select(col("lang"),
      TextStats.langIdFromScores(
        TextStats.langMarkers.map { case (l, _) => l -> col(s"sc_$l") })
        .as("pred_lang"))
    pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  val langIdSql: String =
    s"""SELECT lang, ${TextStats.langIdSql("text")} AS pred_lang, count(*) AS n
       |FROM documents GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin

  // ---- q16: document fingerprinting ----------------------------------

  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    TextStats.fingerprints(table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("id")

  val fingerprintsSql: String =
    TextStats.fingerprintsSql("documents", "doc_id", "text") + "\nORDER BY id"

  // ---- q24: embedding-cosine near-dup --------------------------------

  val NearDupCos = 0.4
  val NearDupNlist = 16
  val NearDupProbe = 8

  /** Candidates→verify shape: IVF multi-probe cell blocking generates
    * candidate pairs (postings self-join keyed by cell — never an
    * explicit all-pairs scan), then the exact cosine verifies them via
    * id-keyed equi-joins with no corpus broadcast. The oracle is the
    * exact all-pairs SQL, so this query also asserts candidate recall
    * = 1.0 at this (threshold, nlist, nprobe) config — the same
    * containment SimilaritySpec checks standalone. At a higher
    * threshold on a clustered corpus the same shape runs with
    * nprobe ≪ nlist; 0.4 on this synthetic tail needs wide probing
    * (see [[IvfIndex.nearDupCandidates]] scaladoc). */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val centroids = storedCentroids(spark, dir, "full", NearDupNlist)
    val cands = IvfIndex.nearDupCandidates(
      emb, "vec_id", "embedding", centroids, nprobe = NearDupProbe)
    CosineKnn.verifyPairs(cands, emb, "vec_id", "embedding", NearDupCos)
      .orderBy("doc_a", "doc_b")
  }

  val embeddingNearDupSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
       |SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       |  round(list_cosine_similarity(a.e, b.e), 6) AS cos
       |FROM v a JOIN v b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.e, b.e) >= $NearDupCos
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q325: semantic leakage across the train/val/test split --------------

  /** The contamination audit q109 CANNOT see: q109 pins exact
    * group-level leakage to zero, but a row-hash split still puts
    * NEAR-DUPLICATE embeddings on both sides of the train/eval fence —
    * the semantic leakage that inflates every benchmark score.
    * Classifies each q24 verified near-dup pair (same config → same
    * stored centroids, amortized; candidate recall 1.0, oracle exact)
    * by the q109 row-keyed split of its two endpoints and publishes
    * the (split_a, split_b) matrix with a `crossing` flag — the
    * train↔val/test rows are the leaked mass an eval must excise (or
    * re-split by cluster, q86's job).
    *
    * Scale shape: q24's candidates→verify (cell-keyed postings joins,
    * work ∝ collisions) plus one projection for the split class and a
    * 9-cell aggregate. */
  def semanticLeakage(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val emb = table(spark, dir, "embeddings")
    val centroids = storedCentroids(spark, dir, "full", NearDupNlist)
    val cands = IvfIndex.nearDupCandidates(
      emb, "vec_id", "embedding", centroids, nprobe = NearDupProbe)
    val pairs = CosineKnn.verifyPairs(cands, emb, "vec_id", "embedding", NearDupCos)
    def splitOf(bucket: org.apache.spark.sql.Column) =
      when(bucket < format_string("%04x", lit(CurationQueries.SplitTrainThr)),
        "train")
        .when(bucket < format_string("%04x", lit(CurationQueries.SplitValThr)),
          "val")
        .otherwise("test")
    val splits = emb.select(col("vec_id"),
      splitOf(Sampling.bucket(col("vec_id"), "split")).as("split"))
    pairs
      .join(splits.withColumnRenamed("vec_id", "doc_a")
        .withColumnRenamed("split", "split_a"), "doc_a")
      .join(splits.withColumnRenamed("vec_id", "doc_b")
        .withColumnRenamed("split", "split_b"), "doc_b")
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("crossing", col("split_a") =!= col("split_b"))
      .orderBy("split_a", "split_b")
  }

  /** `def`, not `val`: the string references [[CurationQueries]]'
    * split thresholds, and a clinit-time cross-object reference here
    * closes a cycle with the pre-existing ScaleQueries→PipelineQueries
    * and CurationQueries→ScaleQueries SQL-val edges — under Verify's
    * concurrent query pool, two threads initializing the cycle from
    * opposite ends DEADLOCK on the class-init monitors (hit once in
    * round 12). Deferring to call time keeps object initialization
    * acyclic. */
  def semanticLeakageSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |s AS (
       |  SELECT vec_id,
       |    CASE WHEN substr(md5(vec_id::VARCHAR || ':split'), 1, 4)
       |           < printf('%04x', ${CurationQueries.SplitTrainThr}) THEN 'train'
       |         WHEN substr(md5(vec_id::VARCHAR || ':split'), 1, 4)
       |           < printf('%04x', ${CurationQueries.SplitValThr}) THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM v),
       |p AS (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM v a JOIN v b ON a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.e, b.e) >= $NearDupCos)
       |SELECT sa.split AS split_a, sb.split AS split_b,
       |  count(*)::BIGINT AS n_pairs,
       |  (sa.split <> sb.split) AS crossing
       |FROM p JOIN s sa ON sa.vec_id = p.doc_a
       |JOIN s sb ON sb.vec_id = p.doc_b
       |GROUP BY 1, 2, 4 ORDER BY split_a, split_b""".stripMargin

  // ---- q226: DBSCAN density clustering over embeddings ----------------

  /** Minimum neighborhood size (incl. the point itself) for a core
    * point. */
  val DbscanMinPts = 4L

  /** DBSCAN (Ester et al. KDD'96) over the embedding space — the
    * density semantics the clustering family lacked: q54/q86 assign
    * EVERY point to a nearest centroid; DBSCAN distinguishes dense
    * structure from background, labels points core / border / NOISE,
    * and — the classic property the spec pins — two dense regions
    * joined only through a border point stay SEPARATE clusters
    * (clusters grow through core points only). Deterministic
    * throughout: neighbor = cosine ≥ [[NearDupCos]] (q24's verified
    * pair machinery, candidate recall 1.0 at this config), core =
    * neighborhood ≥ [[DbscanMinPts]], clusters = connected components
    * of the core-core graph labeled by min id, border points adopt
    * the MINIMUM cluster label among their core neighbors.
    *
    * Scale shape: pairs come from the IVF-blocked candidates→verify
    * pipeline (∝ collisions, never O(n²)); degree and border
    * assignment are one groupBy each over the pair list; components
    * run star contraction (O(log n) rounds). The all-pairs work lives
    * only in the DuckDB oracle. */
  def dbscan(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val centroids = storedCentroids(spark, dir, "full", NearDupNlist)
    val cands = IvfIndex.nearDupCandidates(
      emb, "vec_id", "embedding", centroids, nprobe = NearDupProbe)
    val pairs = CosineKnn.verifyPairs(cands, emb, "vec_id", "embedding",
      NearDupCos).select("doc_a", "doc_b")
    dbscanFrom(pairs, emb.select(col("vec_id")), DbscanMinPts)
      .orderBy("vec_id")
  }

  /** DBSCAN core given the verified neighbor-pair list (`doc_a`,
    * `doc_b`, one row per unordered pair) and the point universe
    * (`vec_id`). Exposed for spec-level hand graphs. */
  private[graft] def dbscanFrom(pairs: DataFrame, vecs: DataFrame,
      minPts: Long): DataFrame = {
    import graft.operators.ConnectedComponents
    // single-scan direction expansion + EAGER checkpoint: the union
    // form planned the (deep, candidates→verify) pair subtree twice,
    // and a lazy persist let AQE's concurrent stage jobs race
    // recomputes into the unfilled cache; the checkpoint also keeps the
    // degree/core/border joins below planning against an edge-sized
    // leaf instead of the full IVF pipeline (round-12 q226 fix).
    val und = pairs
      .select(explode(array(
        struct(col("doc_a").as("a"), col("doc_b").as("b")),
        struct(col("doc_b").as("a"), col("doc_a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .localCheckpoint(true)
    val core = und.groupBy(col("a").as("id"))
      .agg((count(lit(1)) + 1L).as("deg"))
      .filter(col("deg") >= minPts).select("id")
    val coreEdges = und
      .join(core.select(col("id").as("a")), Seq("a"))
      .join(core.select(col("id").as("b")), Seq("b"))
      .select("a", "b")
    val comp = ConnectedComponents.componentsStar(coreEdges, "a", "b")
    // core singletons (no core neighbor) root their own cluster
    val coreComp = core.join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("cluster"))
    val border = und
      .join(coreComp.select(col("id").as("b"), col("cluster").as("bc")),
        Seq("b"))
      .groupBy(col("a").as("id")).agg(min(col("bc")).as("cluster"))
      .join(core, Seq("id"), "left_anti")
    val out = vecs
      .join(coreComp.select(col("id").as("vec_id"),
        col("cluster").as("core_cluster")), Seq("vec_id"), "left")
      .join(border.select(col("id").as("vec_id"),
        col("cluster").as("border_cluster")), Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("core_cluster").isNotNull, lit("core"))
          .when(col("border_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cluster"), col("border_cluster"), lit(-1L))
          .as("cluster"))
      .localCheckpoint(true)
    out
  }

  val dbscanSql: String =
    s"""WITH RECURSIVE v AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b
       |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
       |  WHERE list_cosine_similarity(a.e, b.e) >= $NearDupCos),
       |deg AS (SELECT a AS id, (count(*) + 1)::BIGINT AS d FROM p GROUP BY 1),
       |core AS (SELECT id FROM deg WHERE d >= $DbscanMinPts),
       |ce AS (
       |  SELECT p.a, p.b FROM p
       |  JOIN core ca ON p.a = ca.id JOIN core cb ON p.b = cb.id),
       |reach(id, r) AS (
       |  SELECT id, id FROM core
       |  UNION
       |  SELECT ce.b, reach.r FROM reach JOIN ce ON ce.a = reach.id),
       |comp AS (SELECT id, min(r)::BIGINT AS cluster FROM reach GROUP BY id),
       |border AS (
       |  SELECT p.a AS id, min(c.cluster)::BIGINT AS cluster
       |  FROM p JOIN comp c ON p.b = c.id
       |  WHERE p.a NOT IN (SELECT id FROM core)
       |  GROUP BY p.a)
       |SELECT v.vec_id,
       |  CASE WHEN cm.id IS NOT NULL THEN 'core'
       |       WHEN bd.id IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  coalesce(cm.cluster, bd.cluster, -1)::BIGINT AS cluster
       |FROM v LEFT JOIN comp cm ON v.vec_id = cm.id
       |LEFT JOIN border bd ON v.vec_id = bd.id
       |ORDER BY vec_id""".stripMargin

  // ---- q40: economical IVF near-dup (clustered regime) ---------------

  val EconCos = 0.8
  val EconNlist = 32
  val EconProbe = 2
  val EconGroupSize = 10
  val EconAlpha = 0.9
  val EconBeta = 0.1

  /** Derived grouped-variant corpus: vectors bucketed by
    * `vec_id div 10`, each blended toward its group's base vector
    * (`0.9·base + 0.1·own` — both coefficients literal so the DuckDB
    * oracle computes the identical IEEE sequence). Models the corpus
    * shape near-dup detection actually targets — clusters of re-posts /
    * templated variants with a clean similarity gap (within-group cos
    * > 0.9, cross-group < 0.7 on this data). The blend is a native
    * codegen expression ([[graft.functions.ArrayOps.mix_columns]]);
    * the group join is a plain equi-join sized by AQE. */
  private[graft] def groupedEmbeddings(emb: DataFrame): DataFrame = {
    val gid = (col("vec_id") - col("vec_id") % EconGroupSize).as("gid")
    val base = emb.filter(col("vec_id") % EconGroupSize === 0)
      .select(col("vec_id").as("gid"),
        CosineKnn.toDoubleArray(col("embedding")).as("base_vec"))
    emb.select(col("vec_id"), gid,
        CosineKnn.toDoubleArray(col("embedding")).as("own_vec"))
      .join(base, "gid")
      .select(col("vec_id"),
        graft.functions.ArrayOps.mix_columns(
          col("base_vec"), col("own_vec"), EconAlpha, EconBeta).as("embedding"))
  }

  /** The ECONOMICAL regime of the q24 candidates→verify shape: on a
    * clustered corpus with a similarity gap, IVF multi-probe blocking
    * prunes hard — candidates ≈ 12% of all pairs at recall 1.0
    * (SimilaritySpec asserts both against brute force; the exact
    * all-pairs DuckDB oracle makes recall 1.0 a hash-gated fact, as in
    * q24). Contrast with q24's gradual-tail corpus at τ=0.4, where
    * probing is near-exhaustive (IvfIndex.nearDupCandidates scaladoc):
    * blocking economics are a data property, and this query gates the
    * regime the 100 TB dedup pipeline runs in. `spreadInit` matters:
    * id-ordered seeds collapse onto the id-correlated groups. */
  def neardupEcon(spark: SparkSession, dir: String): DataFrame = {
    val corpus = groupedEmbeddings(table(spark, dir, "embeddings"))
    val centroids = storedCentroids(spark, dir, "grouped", EconNlist,
      spreadInit = true)
    val cands = IvfIndex.nearDupCandidates(
      corpus, "vec_id", "embedding", centroids, nprobe = EconProbe)
    CosineKnn.verifyPairs(cands, corpus, "vec_id", "embedding", EconCos)
      .orderBy("doc_a", "doc_b")
  }

  val neardupEconSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |b AS (SELECT vec_id AS gid, e AS be FROM v WHERE vec_id % $EconGroupSize = 0),
       |m AS (SELECT v.vec_id,
       |        list_transform(range(1, len(v.e)+1),
       |                       i -> $EconAlpha*b.be[i] + $EconBeta*v.e[i]) AS e
       |      FROM v JOIN b ON v.vec_id - v.vec_id % $EconGroupSize = b.gid)
       |SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b,
       |  round(list_cosine_similarity(a.e, b2.e), 6) AS cos
       |FROM m a JOIN m b2 ON a.vec_id < b2.vec_id
       |WHERE list_cosine_similarity(a.e, b2.e) >= $EconCos
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q68: hyperplane-LSH near-dup (stateless banded cosine) --------

  /** Embedding dimension of the testdata corpus (all SFs). */
  val EmbDim = 64

  /** The q40 economical corpus deduplicated by the THIRD blocking
    * family: random-hyperplane LSH ([[graft.similarity.CosineLsh]]) —
    * stateless/append-only banding (bucket keys depend only on the
    * vector, no trained centroids), with the same exact-cosine verify
    * at τ=[[EconCos]]. The oracle regenerates the plane matrix, sign
    * sketches, band keys, candidate join, and verify in SQL from the
    * same md5-derived constants, so the whole approximate pipeline is
    * hash-gated (recall vs the q40 exact pair set is additionally
    * asserted in SimilaritySpec). */
  def neardupLsh(spark: SparkSession, dir: String): DataFrame = {
    val corpus = groupedEmbeddings(table(spark, dir, "embeddings"))
    // persisted sketch scratch rides inside the CachedResult; the
    // Bench/Verify harnesses clear the cache between queries, and
    // library callers get release() via nearDuplicatesResult directly
    // (same contract as q11's SimHash)
    graft.similarity.CosineLsh.nearDuplicatesResult(
        corpus, "vec_id", "embedding", EmbDim, EconCos)
      .df.orderBy("doc_a", "doc_b")
  }

  val neardupLshSql: String = {
    import graft.similarity.CosineLsh._
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |b AS (SELECT vec_id AS gid, e AS be FROM v WHERE vec_id % $EconGroupSize = 0),
       |m AS (SELECT v.vec_id,
       |        list_transform(range(1, len(v.e)+1),
       |                       i -> $EconAlpha*b.be[i] + $EconBeta*v.e[i]) AS e
       |      FROM v JOIN b ON v.vec_id - v.vec_id % $EconGroupSize = b.gid),
       |planes AS (
       |  SELECT p.range AS p, d.range AS d,
       |    ${planeComponentSql("p.range", "d.range")} AS r
       |  FROM range($NumPlanes) p, range($EmbDim) d),
       |dots AS (
       |  SELECT m.vec_id, pl.p, sum(m.e[pl.d + 1] * pl.r) AS dot
       |  FROM m CROSS JOIN planes pl
       |  GROUP BY m.vec_id, pl.p),
       |bands AS (
       |  SELECT vec_id, p // $BandBits AS band,
       |    sum(CASE WHEN dot >= 0 THEN 1 << (p % $BandBits) ELSE 0 END)::BIGINT AS key
       |  FROM dots GROUP BY vec_id, p // $BandBits),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS doc_a, c.vec_id AS doc_b
       |  FROM bands a JOIN bands c
       |    ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id)
       |SELECT cand.doc_a, cand.doc_b,
       |  round(list_cosine_similarity(ma.e, mb.e), 6) AS cos
       |FROM cand
       |JOIN m ma ON ma.vec_id = cand.doc_a
       |JOIN m mb ON mb.vec_id = cand.doc_b
       |WHERE list_cosine_similarity(ma.e, mb.e) >= $EconCos
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- q86: semantic dedup (SemDeDup keep-policy) --------------------

  /** SemDeDup over the q40 economical corpus: the q40 candidate→verify
    * machinery (IVF cells, exact-cosine verify at τ=[[EconCos]])
    * followed by [[graft.similarity.SemDedup.verdicts]]'s keep-first
    * policy — per vector, the count of lower-id semantic duplicates
    * and the keep/drop verdict. The oracle derives the same verdicts
    * from the exact all-pairs set; equivalence holds because on this
    * corpus the blocked candidates provably reach recall 1.0 — the
    * very fact q40's hash gate pins (SemDedupSpec additionally asserts
    * it against brute force on raw slices). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = groupedEmbeddings(table(spark, dir, "embeddings"))
    val centroids = storedCentroids(spark, dir, "grouped", EconNlist,
      spreadInit = true)
    val cands = IvfIndex.nearDupCandidates(
      corpus, "vec_id", "embedding", centroids, nprobe = EconProbe)
    val pairs = CosineKnn.verifyPairs(cands, corpus, "vec_id", "embedding", EconCos)
    graft.similarity.SemDedup.verdicts(corpus, "vec_id", pairs)
      .orderBy("vec_id")
  }

  val semanticDedupSql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |b AS (SELECT vec_id AS gid, e AS be FROM v WHERE vec_id % $EconGroupSize = 0),
       |m AS (SELECT v.vec_id,
       |        list_transform(range(1, len(v.e)+1),
       |                       i -> $EconAlpha*b.be[i] + $EconBeta*v.e[i]) AS e
       |      FROM v JOIN b ON v.vec_id - v.vec_id % $EconGroupSize = b.gid),
       |p AS (
       |  SELECT b2.vec_id AS vid, count(*) AS nd
       |  FROM m a JOIN m b2 ON a.vec_id < b2.vec_id
       |  WHERE list_cosine_similarity(a.e, b2.e) >= $EconCos
       |  GROUP BY b2.vec_id)
       |SELECT m.vec_id, coalesce(p.nd, 0)::BIGINT AS n_dups,
       |  coalesce(p.nd, 0) = 0 AS kept
       |FROM m LEFT JOIN p ON m.vec_id = p.vid
       |ORDER BY vec_id""".stripMargin

  // ---- q25: IVF nearest neighbor, exhaustive-probe gate regime -------

  val AnnNlist = 16

  /** The full IVF pipeline (train → assign → probe → cell join → top-k
    * merge) run in its EXACT regime: `nprobe = nlist` probes every
    * cell, so the index must surface precisely the brute-force top-k —
    * q13's oracle gates the whole machinery hash-exactly (the q34
    * pattern: pin the engine-specific part by gating the regime where
    * the approximate operator is provably exact). A header mis-read,
    * a dropped cell, a mis-ranked merge, or a centroid-assignment bug
    * all fail the hash. The APPROXIMATE regime (nprobe < nlist) stays
    * spec-gated: recall vs exact KNN in SimilaritySpec, and q40 gates
    * the same index against an exact oracle where recall is provably
    * 1.0. At production scale nprobe is the knob; the plan shape
    * (broadcast probes, cell-keyed join, per-query top-k window) is
    * identical at any nprobe — PlanSpec asserts it. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val centroids = storedCentroids(spark, dir, "full", AnnNlist)
    val assigned = IvfIndex.assign(emb, "vec_id", "embedding", centroids)
    val queries = emb.filter(col("vec_id") < KnnQueries)
    IvfIndex.search(assigned, "vec_id", "embedding", queries, centroids,
        KnnK, nprobe = AnnNlist)
      .orderBy("query_id", "rank")
  }

  /** Same oracle as q13 — exhaustive probing must equal brute force. */
  val annIvfSql: String = knnCosineSql

  // ---- q102: product-quantization ANN (ADC scan + exact re-rank) -----

  val PqM = 32      // subspaces: 64-dim / 32 = 2-dim subvectors
  val PqKwords = 16 // codewords per subspace → 32 × 4-bit codes = 16 B
  val PqIters = 4   // Lloyd iterations per subspace
  val PqTopC = 256  // ADC candidates per query before exact re-rank

  /** PQ-compressed ANN ([[graft.similarity.ProductQuantizer]]): train
    * deterministic per-subspace codebooks, encode the corpus to
    * 16-byte codes (16× smaller than the float payload) in one codegen
    * projection, ADC-scan the codes against broadcast per-query LUTs,
    * exact-re-rank the [[PqTopC]] candidates. The fine quantizer
    * (2-dim subspaces) matters: these embeddings are near-isotropic
    * outside the injected near-dup pairs — PQ's hardest regime — and
    * coarser 8-dim subspaces put true neighbors as deep as rank 1174
    * of 2000. At M=32/K=16 the worst true-top-5 ADC rank measured
    * across all shipped SFs is 63, so [[PqTopC]] carries a 4× margin;
    * the spec pins the coverage, making the gated output provably
    * equal to brute force — q13's oracle verbatim. */
  def pqAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val cb = ProductQuantizer.train(emb, "vec_id", "embedding",
      PqM, PqKwords, PqIters)
    ProductQuantizer.searchTopK(emb, "vec_id", "embedding", KnnQueries, cb,
        PqTopC, KnnK)
      .orderBy("query_id", "rank")
  }

  /** Same oracle as q13 — exact re-rank over a covering candidate set
    * must equal brute force. */
  val pqAnnSql: String = knnCosineSql

  // ---- q108: incremental ANN index maintenance -----------------------

  val AnnDeltaMod = 4 // vec_id % 4 == 0 arrives as the append batch

  /** The operational append pattern for a deployed ANN index: the
    * coarse quantizer trains ONCE on the base corpus and is FROZEN;
    * an arriving delta batch is indexed by pure assignment (one
    * codegen projection over the delta ONLY — work ∝ append size,
    * never a retrain over the full corpus), and queries search the
    * merged index. Centroids drift from what a full retrain would
    * give, which costs cell balance, not correctness: searched in the
    * exhaustive-probe gate regime (nprobe = nlist, the q25
    * convention), the merged index provably equals brute force over
    * base ∪ delta — q13's oracle verbatim. The economical regime and
    * the assignment-equality contract (frozen-centroid assignment of
    * the union == union of assignments) live in the spec. */
  def annIncremental(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val base = emb.filter(col("vec_id") % AnnDeltaMod =!= 0)
    val delta = emb.filter(col("vec_id") % AnnDeltaMod === 0)
    val centroids = storedCentroids(spark, dir, "base", AnnNlist)
    val merged = IvfIndex.assign(base, "vec_id", "embedding", centroids)
      .unionByName(IvfIndex.assign(delta, "vec_id", "embedding", centroids))
    val queries = emb.filter(col("vec_id") < KnnQueries)
    IvfIndex.search(merged, "vec_id", "embedding", queries, centroids,
        KnnK, nprobe = AnnNlist)
      .orderBy("query_id", "rank")
  }

  /** Same oracle as q13 — exhaustive probing over the merged index
    * must equal brute force over the full corpus. */
  val annIncrementalSql: String = knnCosineSql

  // ---- q185: ANN search over a PERSISTED IVF index --------------------

  /** q108's append pattern with the index read from DISK: the frozen
    * coarse quantizer (centroid table, nlist rows) and the assigned
    * base corpus (vec_id, embedding, cell) live as parquet at rest —
    * the corpus CELL-PARTITIONED, which is the on-disk layout a real
    * IVF store uses so an economical nprobe search prunes whole
    * partitions at the scan (here the gate regime probes all cells).
    * Base vectors are never re-assigned and the quantizer never
    * retrained: the query's only embeddings.parquet scans are the
    * delta batch and the query vectors (StoredIndexSpec pins that on
    * the plan, plus bitwise equality with q108's recompute path).
    * Work per append: one assignment projection over the delta + the
    * search itself. Oracle: q13 verbatim (exhaustive probe ≡ brute
    * force). */
  def annStoredIndex(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val base = ensureIvfIndex(spark, dir)
    val centroids = spark.read.parquet(s"$base/centroids")
      .orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    val stored = spark.read.parquet(s"$base/corpus")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val delta = emb.filter(col("vec_id") % AnnDeltaMod === 0)
    val merged = stored.unionByName(
      IvfIndex.assign(delta, "vec_id", "embedding", centroids)
        .select(col("vec_id"), col("embedding"), col("cell")))
    val queries = emb.filter(col("vec_id") < KnnQueries)
    IvfIndex.search(merged, "vec_id", "embedding", queries, centroids,
        KnnK, nprobe = AnnNlist)
      .orderBy("query_id", "rank")
  }

  val annStoredIndexSql: String = knnCosineSql

  /** Write-once persisted IVF index over the base shard (vec_id %
    * [[AnnDeltaMod]] != 0): `centroids/` (cell, centroid) + `corpus/`
    * (vec_id, embedding) partitioned by cell. Store lifecycle is
    * [[graft.sources.IndexStore]] — content fingerprint over the data
    * files, staging + atomic-rename publish, superseded-generation
    * cleanup (see [[ensureDedupIndex]]). Returns the index root path. */
  def ensureIvfIndex(spark: SparkSession, dir: String): String =
    PipelineQueries.synchronized {
      import graft.sources.IndexStore
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/embeddings.parquet"))
      val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
      val dest = new java.io.File(storeRoot, s"graft_ivf_idx_${dirTag}_$fpTag")
      def valid(root: java.io.File): Boolean =
        IndexStore.hasSuccess(new java.io.File(root, "corpus")) &&
          IndexStore.hasSuccess(new java.io.File(root, "centroids"))
      IndexStore.publish(dest, valid) { staging =>
        val emb = table(spark, dir, "embeddings")
        val baseEmb = emb.filter(col("vec_id") % AnnDeltaMod =!= 0)
        val centroids = storedCentroids(spark, dir, "base", AnnNlist)
        val centRows = centroids.zipWithIndex.map { case (c, i) => (i, c) }
        import spark.implicits._
        centRows.toSeq.toDF("cell", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/centroids")
        IvfIndex.assign(baseEmb, "vec_id", "embedding", centroids)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$staging/corpus")
      }
      IndexStore.cleanupSuperseded(spark, storeRoot,
        s"graft_ivf_idx_${dirTag}_", dest.getName,
        // no catalog entries for the IVF store; prefix matches nothing
        s"graft_ivf_idx_${dirTag}_", dest.getName)
      dest.getPath
    }

  // ---- q202: ANN served from PERSISTED PQ codes -----------------------

  /** q102's PQ search with the codebooks AND the 16-byte codes read
    * from DISK — the compressed-vector store a memory-bound ANN tier
    * actually serves from (the raw float corpus can live in cold
    * storage; the hot path is 16 B/vector): codebooks are the KB-scale
    * sidecar (M·K rows), codes one row per vector, both published once
    * under the [[graft.sources.IndexStore]] lifecycle. At query time
    * the ADC scan reads ONLY the stored codes against broadcast
    * per-query LUTs; raw embeddings are touched for the query vectors
    * and the topC exact re-rank — never re-encoded (StoredIndexSpec
    * pins `pq_encode` out of the serving plan and q202 ≡ q102
    * row-for-row; the training Lloyd iterations run at publish time
    * only). Oracle: q13 verbatim (covering candidates + exact re-rank
    * ≡ brute force — q102's gate). */
  def pqStoredIndex(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val root = ensurePqIndex(spark, dir)
    val cbRows = spark.read.parquet(s"$root/codebooks").collect()
    val m = cbRows.map(_.getInt(0)).max + 1
    val k = cbRows.map(_.getInt(1)).max + 1
    val cb = Array.ofDim[Array[Double]](m, k)
    cbRows.foreach(r => cb(r.getInt(0))(r.getInt(1)) =
      r.getAs[scala.collection.Seq[Double]]("word").toArray)
    val codes = spark.read.parquet(s"$root/codes")
    ProductQuantizer.searchTopKFromCodes(codes, emb, "vec_id", "embedding",
        KnnQueries, cb, PqTopC, KnnK)
      .orderBy("query_id", "rank")
  }

  /** Same oracle as q13/q102 — serving from stored codes must equal
    * brute force. */
  val pqStoredIndexSql: String = knnCosineSql

  /** Write-once persisted PQ store: `codebooks/` (m, k, word — the
    * M×K codeword matrix, rebuilt driver-side at read) + `codes/`
    * (id, code: array<int> of length M). Training (the only expensive
    * step) and the encode projection run at publish time; lifecycle —
    * content fingerprint, staged atomic publish, superseded-generation
    * cleanup — is [[graft.sources.IndexStore]]'s, as in
    * [[ensureIvfIndex]]. Returns the store root path. */
  def ensurePqIndex(spark: SparkSession, dir: String): String =
    PipelineQueries.synchronized {
      import graft.sources.IndexStore
      val dirTag = IndexStore.pathTag(dir)
      val fpTag = IndexStore.contentTag(new java.io.File(s"$dir/embeddings.parquet"))
      val storeRoot = new java.io.File(sys.props("java.io.tmpdir"))
      val dest = new java.io.File(storeRoot, s"graft_pq_idx_${dirTag}_$fpTag")
      def valid(root: java.io.File): Boolean =
        IndexStore.hasSuccess(new java.io.File(root, "codes")) &&
          IndexStore.hasSuccess(new java.io.File(root, "codebooks"))
      IndexStore.publish(dest, valid) { staging =>
        val emb = table(spark, dir, "embeddings")
        val cb = ProductQuantizer.train(emb, "vec_id", "embedding",
          PqM, PqKwords, PqIters)
        import spark.implicits._
        val rows = for { s <- cb.indices; c <- cb(s).indices }
          yield (s, c, cb(s)(c).toSeq)
        rows.toDF("m", "k", "word")
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/codebooks")
        ProductQuantizer.encode(emb, "vec_id", "embedding", cb)
          .write.mode("overwrite").parquet(s"$staging/codes")
      }
      IndexStore.cleanupSuperseded(spark, storeRoot,
        s"graft_pq_idx_${dirTag}_", dest.getName,
        // no catalog entries for the PQ store; prefix matches nothing
        s"graft_pq_idx_${dirTag}_", dest.getName)
      dest.getPath
    }

  // ---- q206: perceptual image near-dup (dHash over decoded BMPs) ------

  /** Visual near-duplicate detection ([[graft.multimodal.ImageDedup]]):
    * dHash over really-decoded BMP pixels, perturbed twins as the
    * planted duplicates, SimHash-style 8×8-bit banding with the
    * pigeonhole exhaustiveness guarantee (Hamming ≤ 7 < 8 bands ⇒ a
    * band collides). The oracle recomputes the identical 64 gradient
    * bits from the text-derived pixels and brute-forces ALL pairs —
    * so the banded Spark result is hash-gated as provably exhaustive,
    * incidental (non-twin) collisions included. */
  def imageNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageDedup
    val docs = table(spark, dir, "documents")
    ImageDedup.nearDupPairs(ImageDedup.imageHashes(docs, "doc_id", "text"))
  }

  val imageNearDupSql: String = {
    import graft.multimodal.ImageDedup.{Stride, Tau, TwinOffset}
    import graft.multimodal.Multimodal.{BmpMaxBytes, BmpWidth}
    // pixel index of grid cell j (0..71): row = j//9 of 8 sampled rows,
    // col = j%9 of 9 sampled cols; 1-based char position in s
    val pos = s"(((j // 9) * h // 8) * $BmpWidth + ((j % 9) * $BmpWidth // 9) + 1)"
    s"""WITH uni AS (
       |  SELECT doc_id AS id, FALSE AS twin,
       |    regexp_replace(text, '[^ -~]', '', 'g') AS s
       |  FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + $TwinOffset, TRUE,
       |    regexp_replace(text, '[^ -~]', '', 'g')
       |  FROM documents WHERE doc_id % 3 = 0),
       |geo AS (
       |  SELECT id, twin, s, least(length(s), $BmpMaxBytes) AS len,
       |    greatest(1, (least(length(s), $BmpMaxBytes) + ${BmpWidth - 1}) // $BmpWidth) AS h
       |  FROM uni),
       |g AS (
       |  SELECT id, list_transform(range(0, 72), j ->
       |    CASE WHEN $pos <= len THEN
       |      CASE WHEN twin AND $pos % $Stride = 0 THEN 126
       |           ELSE ascii(substr(s, $pos::INT, 1)) END
       |    ELSE 0 END) AS gg
       |  FROM geo),
       |bits AS (
       |  SELECT id, list_transform(range(0, 64), k ->
       |    CASE WHEN gg[(k // 8) * 9 + (k % 8) + 1] > gg[(k // 8) * 9 + (k % 8) + 2]
       |         THEN 1 ELSE 0 END) AS bb
       |  FROM g)
       |SELECT id_a, id_b, hamming, twin_pair FROM (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    list_sum(list_transform(range(0, 64), k ->
       |      CASE WHEN a.bb[k + 1] <> b.bb[k + 1] THEN 1 ELSE 0 END))::BIGINT
       |      AS hamming,
       |    (b.id - a.id = $TwinOffset) AS twin_pair
       |  FROM bits a JOIN bits b ON a.id < b.id)
       |WHERE hamming <= $Tau
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q229: voice-activity segmentation over decoded PCM -------------

  /** VAD segmentation ([[graft.multimodal.AudioVad]]): per audio clip,
    * frames whose exact integer energy strictly exceeds the clip mean
    * merge into active segments — count, coverage, and a boundary
    * checksum, all derived from PCM that really round-tripped the WAV
    * codec. Oracle: identical energies re-derived from text, islands
    * replayed with window functions. */
  def audioVad(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.AudioVad
      .vadStats(table(spark, dir, "documents"), "doc_id", "text")
      .orderBy("audio_id")

  val audioVadSql: String = {
    import graft.multimodal.AudioVad.FrameLen
    import graft.multimodal.Multimodal.WavMaxSamples
    s"""WITH uni AS (
       |  SELECT doc_id AS id, regexp_replace(text, '[^ -~]', '', 'g') AS s
       |  FROM documents WHERE doc_id % 3 = 1),
       |geo AS (
       |  SELECT id, s, least(length(s), $WavMaxSamples) AS n FROM uni),
       |fr AS (SELECT id, s, n // $FrameLen AS nf FROM geo),
       |nrg AS (
       |  SELECT id, nf, f,
       |    list_sum(list_transform(
       |      range(f * $FrameLen, (f + 1) * $FrameLen),
       |      i -> abs((ascii(substr(s, (i + 1)::INT, 1)) - 128) * 256)))
       |      AS e
       |  FROM fr, LATERAL (SELECT unnest(range(0, nf)) AS f) u),
       |tot AS (SELECT id, sum(e)::BIGINT AS te FROM nrg GROUP BY 1),
       |act AS (
       |  SELECT nrg.id, f FROM nrg JOIN tot USING (id)
       |  WHERE e * nf > te),
       |grp AS (
       |  SELECT id, f,
       |    f - row_number() OVER (PARTITION BY id ORDER BY f) AS g
       |  FROM act),
       |seg AS (
       |  SELECT id, min(f) + 1 AS ss, max(f) + 1 AS se
       |  FROM grp GROUP BY id, g),
       |per AS (
       |  SELECT id, count(*)::BIGINT AS ns,
       |    sum(se - ss + 1)::BIGINT AS na,
       |    sum(ss * 1000003 + se)::BIGINT AS ck
       |  FROM seg GROUP BY id)
       |SELECT fr.id AS audio_id, fr.nf::BIGINT AS n_frames,
       |  coalesce(per.na, 0)::BIGINT AS n_active,
       |  coalesce(per.ns, 0)::BIGINT AS n_segments,
       |  coalesce(per.ck, 0)::BIGINT AS seg_checksum,
       |  (CASE WHEN fr.nf > 0 THEN (1000 * coalesce(per.na, 0)) // fr.nf
       |        ELSE 0 END)::BIGINT AS active_permille
       |FROM fr LEFT JOIN per ON fr.id = per.id
       |ORDER BY audio_id""".stripMargin
  }

  // ---- q207: acoustic fingerprint near-dup (energy-gradient hash) -----

  /** Audio near-duplicate detection ([[graft.multimodal.AudioDedup]]):
    * 64-bit energy-gradient fingerprints over really-decoded PCM (the
    * WAV codec is in the gated path), perturbed transient twins as
    * the planted duplicates, and the q206 banded detector REUSED
    * verbatim — one banding/pigeonhole engine serving both
    * modalities. Oracle: identical integer frame energies + gradient
    * bits recomputed from text in SQL, brute-forced over all pairs. */
  def audioNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{AudioDedup, ImageDedup}
    val docs = table(spark, dir, "documents")
    ImageDedup.nearDupPairs(AudioDedup.audioHashes(docs, "doc_id", "text"))
  }

  val audioNearDupSql: String = {
    import graft.multimodal.AudioDedup.{Spike, Stride}
    import graft.multimodal.ImageDedup.{Tau, TwinOffset}
    import graft.multimodal.Multimodal.WavMaxSamples
    // |sample i| (1-based) of the clip: spike at twin positions, else
    // the centered 16-bit sample of the sanitized text code
    def absSamp(i: String) =
      s"CASE WHEN twin AND $i % $Stride = 0 THEN $Spike " +
        s"ELSE abs((ascii(substr(s, ($i)::INT, 1)) - 128) * 256) END"
    s"""WITH uni AS (
       |  SELECT doc_id AS id, FALSE AS twin,
       |    regexp_replace(text, '[^ -~]', '', 'g') AS s
       |  FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT doc_id + $TwinOffset, TRUE,
       |    regexp_replace(text, '[^ -~]', '', 'g')
       |  FROM documents WHERE doc_id % 3 = 1),
       |geo AS (
       |  SELECT id, twin, s, least(length(s), $WavMaxSamples) AS n FROM uni),
       |nrg AS (
       |  SELECT id, list_transform(range(0, 65), f ->
       |    coalesce(list_sum(list_transform(
       |      range(f * n // 65, (f + 1) * n // 65),
       |      i -> ${absSamp("(i + 1)")})), 0)) AS e
       |  FROM geo),
       |bits AS (
       |  SELECT id, list_transform(range(0, 64), k ->
       |    CASE WHEN e[k + 1] > e[k + 2] THEN 1 ELSE 0 END) AS bb
       |  FROM nrg)
       |SELECT id_a, id_b, hamming, twin_pair FROM (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    list_sum(list_transform(range(0, 64), k ->
       |      CASE WHEN a.bb[k + 1] <> b.bb[k + 1] THEN 1 ELSE 0 END))::BIGINT
       |      AS hamming,
       |    (b.id - a.id = $TwinOffset) AS twin_pair
       |  FROM bits a JOIN bits b ON a.id < b.id)
       |WHERE hamming <= $Tau
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q215: perceptual video near-dup (frame-dHash sequences) --------

  /** Video near-duplicate detection
    * ([[graft.multimodal.VideoDedup]]) — the fourth modality of the
    * dedup family: per-frame dHashes over frames that round-trip the
    * REAL RIFF/AVI container (carrying uncompressed gray frames — the
    * lossless flavor, which is what lets the oracle recompute the
    * identical bits from text; MJPEG in the same container is q186).
    * Perturbed twins as the planted duplicates, Hamming budget scaled
    * to frame count (2·nf+1 < 8·nf bands ⇒ pigeonhole
    * exhaustiveness), candidates from (frame, band, value) buckets
    * with equal frame counts. Oracle: identical per-frame grid bits
    * from sanitized text, brute-forced over all equal-length pairs. */
  def videoNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.VideoDedup
    val docs = table(spark, dir, "documents")
    VideoDedup.nearDupPairs(VideoDedup.videoHashes(docs, "doc_id", "text"))
  }

  val videoNearDupSql: String = {
    import graft.multimodal.VideoDedup.{Stride, TwinOffset}
    import graft.multimodal.Multimodal.{AviFrameBytes, AviMaxFrames}
    val cap = AviFrameBytes * AviMaxFrames
    // 1-based char position of grid cell j (0..71) of frame f:
    // row = j//9 of 8 rows (h = 8 ⇒ row maps to pixel row directly),
    // col = j%9 of 9 sampled cols over the 16-wide frame
    val pos = s"(f * $AviFrameBytes + (j // 9) * 16 + ((j % 9) * 16 // 9) + 1)"
    s"""WITH uni AS (
       |  SELECT doc_id AS id, FALSE AS twin,
       |    regexp_replace(text, '[^ -~]', '', 'g') AS s
       |  FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT doc_id + $TwinOffset, TRUE,
       |    regexp_replace(text, '[^ -~]', '', 'g')
       |  FROM documents WHERE doc_id % 3 = 1),
       |geo AS (
       |  SELECT id, twin, s, least(length(s), $cap) AS len,
       |    greatest(1, (least(length(s), $cap) + ${AviFrameBytes - 1})
       |      // $AviFrameBytes) AS nf
       |  FROM uni),
       |fr AS (
       |  SELECT id, twin, s, len, nf, f
       |  FROM geo, (SELECT unnest([0, 1, 2, 3]) AS f) WHERE f < nf),
       |g AS (
       |  SELECT id, nf, f, list_transform(range(0, 72), j ->
       |    CASE WHEN $pos <= len THEN
       |      CASE WHEN twin AND $pos % $Stride = 0 THEN 126
       |           ELSE ascii(substr(s, $pos::INT, 1)) END
       |    ELSE 0 END) AS gg
       |  FROM fr),
       |bits AS (
       |  SELECT id, nf, f, list_transform(range(0, 64), k ->
       |    CASE WHEN gg[(k // 8) * 9 + (k % 8) + 1] > gg[(k // 8) * 9 + (k % 8) + 2]
       |         THEN 1 ELSE 0 END) AS bb
       |  FROM g),
       |ham AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.nf AS n_frames,
       |    sum(list_sum(list_transform(range(0, 64), k ->
       |      CASE WHEN a.bb[k + 1] <> b.bb[k + 1] THEN 1 ELSE 0 END)))::BIGINT
       |      AS hamming
       |  FROM bits a JOIN bits b
       |    ON a.id < b.id AND a.f = b.f AND a.nf = b.nf
       |  GROUP BY 1, 2, 3)
       |SELECT id_a, id_b, n_frames, hamming,
       |  (id_b - id_a = $TwinOffset) AS twin_pair
       |FROM ham WHERE hamming <= 2 * n_frames + 1
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- q119: metadata-filtered vector search -------------------------

  /** Filtered ANN — "top-k most similar WITH label = X" — done as TRUE
    * pre-filtering: the metadata predicate joins as part of the index
    * key (cell, label), so non-matching vectors never enter the
    * candidate stream at all. Post-filtering (search then drop) is the
    * naive alternative that silently returns < k once the filter is
    * selective; pre-filtering keeps k guaranteed at identical cost.
    * Each query vector searches its OWN label partition (the "same
    * collection" retrieval every RAG store does). Gated in the
    * exhaustive-probe regime (q25 convention): provably equal to
    * brute force over the filtered corpus. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorOps
    val emb = table(spark, dir, "embeddings")
    val centroids = storedCentroids(spark, dir, "full", AnnNlist)
    val v = CosineKnn.toDoubleArray(col("embedding"))
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      CosineKnn.toDoubleArray(col("embedding")).as("cvec"), col("label"),
      element_at(VectorOps.nearest_cells(v, centroids, 1), 1).as("cell"))
    val probes = emb.filter(col("vec_id") < KnnQueries).select(
      col("vec_id").as("query_id"),
      CosineKnn.toDoubleArray(col("embedding")).as("qvec"), col("label"),
      explode(VectorOps.nearest_cells(v, centroids, AnnNlist)).as("cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    corpus.join(broadcast(probes), Seq("cell", "label"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", CosineKnn.cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KnnK)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("label"), round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "rank")
  }

  // ---- q121: contrastive pair mining ---------------------------------

  /** Positive threshold (the q40 near-dup cosine) and the hard-negative
    * band floor — pairs in [[[CtrNegLo]], [[CtrPosThr]]) are "close but
    * not duplicate", the pairs a contrastive loss learns most from. */
  val CtrPosThr = 0.4
  val CtrNegLo = 0.25

  /** Mine contrastive training pairs within each label group (the
    * in-domain batches an embedding fine-tune samples from): per
    * label, count all pairs, POSITIVES (cos ≥ [[CtrPosThr]]) and HARD
    * NEGATIVES (cos ∈ [[[CtrNegLo]], [[CtrPosThr]])), with id-sum
    * checksums pinning exact pair identities. Pair generation is a
    * label-co-partitioned self-join (`vec_id` ordering halves it) —
    * label blocking bounds the quadratic term by the largest label
    * group; at 100 TB the block key becomes (label, IVF cell), the
    * q40/q86 machinery, trading exactness for candidates the way the
    * spec-gated economical regimes do. */
  def contrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    def side(n: String) = emb.select(col("vec_id").as(s"${n}_id"),
      CosineKnn.toDoubleArray(col("embedding")).as(s"${n}_v"), col("label"))
    side("a").join(side("b").withColumnRenamed("label", "label_b"),
        col("a_id") < col("b_id") && col("label") === col("label_b"))
      .withColumn("cos", CosineKnn.cosine(col("a_v"), col("b_v")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cos") >= CtrPosThr, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("cos") >= CtrNegLo && col("cos") < CtrPosThr, 1L)
          .otherwise(0L)).as("n_hard_neg"),
        sum(when(col("cos") >= CtrPosThr, col("a_id") + col("b_id"))
          .otherwise(0L)).as("pos_id_checksum"),
        sum(when(col("cos") >= CtrNegLo && col("cos") < CtrPosThr,
          col("a_id") + col("b_id")).otherwise(0L)).as("neg_id_checksum"))
      .orderBy("label")
  }

  val contrastivePairsSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
       |p AS (
       |  SELECT a.label, a.vec_id AS ia, b.vec_id AS ib,
       |    list_cosine_similarity(a.e, b.e) AS cos
       |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
       |SELECT label, count(*)::BIGINT AS n_pairs,
       |  sum(CASE WHEN cos >= $CtrPosThr THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |  sum(CASE WHEN cos >= $CtrNegLo AND cos < $CtrPosThr
       |      THEN 1 ELSE 0 END)::BIGINT AS n_hard_neg,
       |  sum(CASE WHEN cos >= $CtrPosThr THEN ia + ib ELSE 0 END)::BIGINT
       |    AS pos_id_checksum,
       |  sum(CASE WHEN cos >= $CtrNegLo AND cos < $CtrPosThr
       |      THEN ia + ib ELSE 0 END)::BIGINT AS neg_id_checksum
       |FROM p GROUP BY label ORDER BY label""".stripMargin

  /** q13's brute-force oracle restricted to the query's label. */
  val annFilteredSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id, label, e FROM v WHERE vec_id < $KnnQueries),
       |s AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, q.label,
       |    list_cosine_similarity(q.e, v.e) AS cos
       |  FROM q JOIN v ON v.label = q.label AND v.vec_id <> q.vec_id),
       |r AS (
       |  SELECT query_id, neighbor_id, label, cos, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
       |  FROM s)
       |SELECT query_id, rk::INT AS "rank", neighbor_id, label,
       |  round(cos, 6) AS cos
       |FROM r WHERE rk <= $KnnK ORDER BY query_id, rk""".stripMargin

  // ---- q26: multimodal feature extraction ----------------------------

  def multimodal(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMedia(
      graft.Partitioning.spread(table(spark, dir, "documents"), col("doc_id")), "doc_id", "text")
    Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("media_type"), col("n_bytes"),
        col("checksum"), col("n_sampled_frames"))
      .orderBy("media_id")
  }

  val multimodalSql: String =
    """SELECT doc_id AS media_id,
      |  ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS media_type,
      |  octet_length(text::BLOB)::BIGINT AS n_bytes,
      |  md5(text) AS checksum,
      |  greatest(1, (doc_id % 30 + 1) // 10)::INT AS n_sampled_frames
      |FROM documents ORDER BY media_id""".stripMargin

  // ---- q30: Structured Streaming windowed profile --------------------

  /** Replays events.parquet through a real file-source streaming query
    * (readStream → watermark → tumbling window agg → memory sink) and
    * returns the final result table. Complete output mode: every
    * window, same totals as the batch oracle. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val src = streamParquet(spark, s"$dir/events.parquet")
    drain(eventsWindowProfile(src.withColumn("event_ts", eventTs(src))),
      "events_stream_result", "complete").orderBy("hour_epoch", "event_type")
  }

  /** q30's hourly profile per event type: a projection of
    * [[graft.streaming.StreamingProfile.windowedMoments]] over events
    * carrying an `event_ts` column (a stream or a batch frame).
    * `n_events` counts the non-null values, and `stddev_value` is
    * √`var_pop`. */
  def eventsWindowProfile(events: DataFrame): DataFrame =
    graft.streaming.StreamingProfile.windowedMoments(
        events, "event_ts", "event_type", "value", "1 hour", "10 minutes")
      .select(
        unix_seconds(col("window_start")).as("hour_epoch"),
        col("event_type"), col("n").as("n_events"),
        // gate mean via exact integer micro-units (QueryUtil.centMean6)
        QueryUtil.centMean6("sum_cents", "n").as("avg_value"),
        r6(sqrt(col("var_pop"))).as("stddev_value"),
        r6(col("min")).as("min_value"),
        r6(col("max")).as("max_value"))

  val eventsStreamSql: String =
    s"""SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
       |  event_type, count(value) AS n_events,
       |  ${QueryUtil.centMean6Sql("sum(floor(value * 100)::BIGINT)", "count(value)")}
       |    AS avg_value,
       |  round(stddev_pop(value), 6) AS stddev_value,
       |  round(min(value), 6) AS min_value,
       |  round(max(value), 6) AS max_value
       |FROM events
       |GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin

  // ---- q36: streaming exact dedup ------------------------------------

  /** Exact dedup on a STREAM: one state row per distinct content hash
    * (`dropDuplicates` on md5(text)), append mode — the streaming form
    * of q09's batch exact dedup. State grows with distinct content,
    * which is the honest lower bound for exact dedup at any scale
    * (same ~24 B/row as the batch md5 shuffle; RocksDB state store on
    * a real cluster). For unbounded streams where only near-time
    * re-delivery matters, `dropDuplicatesWithinWatermark` bounds state
    * by the watermark delay instead — same plan shape, state evicted
    * past the watermark. Oracle: DISTINCT md5(text) in DuckDB (md5 is
    * the cross-engine hash contract, see [[graft.text.Hashing]]). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val deduped = streamParquet(spark, s"$dir/documents.parquet")
      .select(md5(col("text")).as("h")).dropDuplicates("h")
    drain(deduped, "stream_dedup_result", "append").orderBy("h")
  }

  val streamDedupSql: String =
    "SELECT DISTINCT md5(text) AS h FROM documents ORDER BY h"

  // ---- q41: watermark-bounded streaming dedup ------------------------

  /** Streaming dedup with WATERMARK-BOUNDED state
    * (`dropDuplicatesWithinWatermark`) — the unbounded-stream answer to
    * q36, whose exact-dedup state grows with distinct content forever.
    * A key's state is evicted once the watermark passes its event time
    * plus the delay, so steady-state memory is O(keys per delay window)
    * regardless of stream length; duplicates separated by more than the
    * delay re-emit — the contract re-delivery dedup wants. Replayed
    * here with a delay covering the dataset's 30-day horizon, so the
    * gated output equals exact DISTINCT (the DuckDB oracle); the
    * eviction/re-emit semantics beyond the horizon are asserted in
    * StreamingSpec on a controlled MemoryStream. The dedup key
    * (event_type, user_id, hour) is projected BEFORE dedup so the
    * emitted first-seen row is deterministic under any partitioning. */
  def streamDedupWatermark(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val src = streamParquet(spark, s"$dir/events.parquet")
    val deduped = src.select(
        eventTs(src).as("event_ts"),
        col("event_type"), col("user_id"),
        eventHourEpoch(src).as("hour_epoch"))
      .withWatermark("event_ts", "35 days")
      .dropDuplicatesWithinWatermark("event_type", "user_id", "hour_epoch")
      .select("event_type", "user_id", "hour_epoch")
    drain(deduped, "stream_dedup_wm_result", "append")
      .orderBy("event_type", "user_id", "hour_epoch")
  }

  val streamDedupWatermarkSql: String =
    """SELECT DISTINCT event_type, user_id,
      |  epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch
      |FROM events
      |ORDER BY event_type, user_id, hour_epoch""".stripMargin

  // ---- q34: bounded-state streaming top-K ----------------------------

  /** Top user_ids per event_type from the events STREAM via the
    * Space-Saving sketch ([[graft.streaming.StreamingTopK]]) — bounded
    * state per key regardless of distinct-value cardinality.
    *
    * Oracle-gated in the EXACT REGIME (the q67 trick): capacity 4096
    * exceeds the distinct-user count at gate/bench SF, so the sketch
    * holds plain exact counts and the emitted ranking — including the
    * err column pinned to literal 0 in the oracle — is
    * hash-comparable against exact SQL. On larger domains the same
    * query degrades gracefully to bounded-error heavy hitters from
    * the same fixed-size state (the overflow bounds are
    * StreamingTopKSpec/TopKAggregateSpec territory; sketch rows there
    * are approximation-order-dependent, hence no oracle in that
    * regime). Single-file source → one micro-batch, so the
    * update-mode memory sink holds exactly the final emission. */
  def streamTopK(spark: SparkSession, dir: String): DataFrame =
    withStreamStatePartitions(spark) { spark =>
    val topk = graft.streaming.StreamingTopK.topK(streamParquet(spark, s"$dir/events.parquet"),
      "event_type", "user_id", k = 5, capacity = 4096)
    drain(topk, "stream_topk_result", "update").orderBy("key", "rank")
  }

  val streamTopKSql: String =
    """WITH c AS (
      |  SELECT event_type AS key, user_id::VARCHAR AS value, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY key ORDER BY cnt DESC, value) AS rank
      |  FROM c)
      |SELECT key, value, cnt, 0::BIGINT AS err, rank::INT AS rank
      |FROM r WHERE rank <= 5
      |ORDER BY key, rank""".stripMargin

  // ---- q133: matryoshka truncation recall ----------------------------

  /** Truncation prefixes evaluated against the full 64-dim ranking. */
  val MrlDims = Seq(8, 16, 32)
  val MrlK = 10

  /** Matryoshka-representation evaluation (Kusupati et al. 2022) — the
    * "how many dims can retrieval afford to drop?" study run before
    * shipping truncated embeddings: for each prefix length, the exact
    * top-[[MrlK]] under truncated cosine is scored against the
    * full-dimension top-[[MrlK]] by overlap count, reported as integer
    * recall per-mille. Rankings on BOTH sides use the engine-exact
    * cosine contract ([[graft.similarity.CosineKnn]] — element-
    * sequential summation, the q13 convention), so overlap counts are
    * deterministic integers and the gate is hash-exact.
    *
    * Scale shape: one corpus scan per prefix (the eval IS a scan-battery
    * by definition), queries broadcast, per-query top-k via the window
    * merge — the corpus never shuffles; overlap scoring joins two
    * (query, neighbor) id tables of k·|Q| rows each. */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = table(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < KnnQueries)
    val full = CosineKnn.topK(emb, "vec_id", "embedding", queries, MrlK)
      .select("query_id", "neighbor_id")
    MrlDims.map { d =>
        def trunc(f: DataFrame): DataFrame =
          f.select(col("vec_id"), expr(s"slice(embedding, 1, $d)").as("embedding"))
        CosineKnn.topK(trunc(emb), "vec_id", "embedding", trunc(queries), MrlK)
          .select("query_id", "neighbor_id")
          .join(full, Seq("query_id", "neighbor_id"), "semi")
          .agg(count(lit(1)).as("n_overlap"))
          .select(lit(d).as("dim"), lit(KnnQueries).as("n_queries"),
            lit(MrlK).as("k"), col("n_overlap"),
            expr(s"(1000 * n_overlap) div ${KnnQueries * MrlK}").as("recall_pm"))
      }
      .reduce(_ unionByName _)
      .orderBy("dim")
  }

  val matryoshkaRecallSql: String = {
    val perDim = MrlDims.map { d =>
      s"""o$d AS (
         |  SELECT $d AS dim, count(*)::BIGINT AS n_overlap
         |  FROM (
         |    SELECT query_id, neighbor_id FROM (
         |      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |        row_number() OVER (PARTITION BY q.vec_id
         |          ORDER BY list_cosine_similarity(q.e[1:$d], v.e[1:$d]) DESC,
         |            v.vec_id ASC) AS rk
         |      FROM q, v WHERE v.vec_id <> q.vec_id)
         |    WHERE rk <= $MrlK) t
         |  JOIN fullr USING (query_id, neighbor_id))""".stripMargin
    }.mkString(",\n")
    val union = MrlDims.map(d =>
      s"SELECT dim, n_overlap FROM o$d").mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id, e FROM v WHERE vec_id < $KnnQueries),
       |fullr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.e, v.e) DESC,
       |          v.vec_id ASC) AS rk
       |    FROM q, v WHERE v.vec_id <> q.vec_id)
       |  WHERE rk <= $MrlK),
       |$perDim
       |SELECT dim, $KnnQueries AS n_queries, $MrlK AS k, n_overlap,
       |  (1000 * n_overlap) // ${KnnQueries * MrlK} AS recall_pm
       |FROM ($union)
       |ORDER BY dim""".stripMargin
  }

  // ---- q128: cross-dataset overlap estimation (KMV sketch) -----------

  /** Bottom-k sketch size. At J ≈ 0.42, 3σ = 3·√(J(1−J)/k) ≈ 92‰. */
  val KmvK = 256
  /** Shingle width in tokens (q101's window convention). */
  val KmvW = 8
  /** Pinned estimator bound: |est − exact| ≤ 100‰ (≈ 3σ at this J/k;
    * measured 49/28/5‰ at sf0.001/0.01/0.1). */
  val KmvErrBoundPm = 100L

  /** Dataset-overlap estimation from bottom-k (KMV) sketches (Beyer et
    * al. 2007) — the "how much of dataset B is already in dataset A?"
    * answer computed WITHOUT comparing the datasets: each side keeps
    * only its [[KmvK]] smallest distinct shingle hashes, and the
    * Jaccard estimate is the three-way sketch intersection over the
    * merged bottom-k — the mergeability that lets a 100 TB dataset
    * card carry a 2 KB sketch answering overlap against ANY other
    * dataset after the fact. Datasets are deterministic corpus slices
    * (A = `doc_id % 3 ≠ 2`, B = `doc_id % 2 = 0` — overlapping by
    * construction); shingles are [[KmvW]]-token windows hashed with
    * the cross-engine [[graft.text.Hashing.h60]]. The gate computes
    * the EXACT shingle Jaccard alongside and pins
    * `|est − exact| ≤ `[[KmvErrBoundPm]] as a boolean, with the
    * honest measured error in `err_pm`.
    *
    * Scale shape: one explode to (hash, membership) collapsed
    * map-side, two TakeOrderedAndProject bottom-k cuts, and
    * broadcast-size sketch joins — the only corpus-sized work is the
    * distinct-shingle aggregate the exact gate needs (a production
    * run ships sketches only). */
  def corpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = table(spark, dir, "documents")
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("a"))
      .filter(size(col("a")) >= KmvW)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(a) - ${KmvW - 1}), " +
          s"i -> array_join(slice(a, i, $KmvW), ' '))")).as("w"))
      .select(col("doc_id"), Hashing.h60(col("w")).as("h"))
      .groupBy("h")
      .agg(max(col("doc_id") % 3 =!= 2).as("in_a"),
        max(col("doc_id") % 2 === 0).as("in_b"))
    val ka = sh.filter(col("in_a")).select("h").orderBy("h").limit(KmvK)
    val kb = sh.filter(col("in_b")).select("h").orderBy("h").limit(KmvK)
    val ku = ka.unionByName(kb).distinct().orderBy("h").limit(KmvK)
    val m = ku.join(broadcast(ka), Seq("h"), "semi")
      .join(broadcast(kb), Seq("h"), "semi")
      .agg(count(lit(1)).as("m"))
    val ex = sh.agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("na"),
      sum(when(col("in_b"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("nc"))
    ex.crossJoin(m)
      .select(col("na"), col("nb"), col("nc"),
        expr("(1000 * nc) div (na + nb - nc)").as("jaccard_pm"),
        col("m"),
        expr(s"(1000 * m) div $KmvK").as("est_pm"),
        expr(s"abs((1000 * nc) div (na + nb - nc) - (1000 * m) div $KmvK)")
          .as("err_pm"))
      .withColumn("within_bound", col("err_pm") <= KmvErrBoundPm)
  }

  val corpusOverlapSql: String = {
    val win = s"a[i:i+${KmvW - 1}]"
    s"""WITH tok AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS a
       |  FROM documents),
       |win AS (
       |  SELECT doc_id, ${Hashing.h60Sql(s"array_to_string($win, ' ')")} AS h
       |  FROM tok, LATERAL (
       |    SELECT unnest(generate_series(1, len(a) - ${KmvW - 1})) AS i) u
       |  WHERE len(a) >= $KmvW),
       |sh AS (
       |  SELECT h, bool_or(doc_id % 3 <> 2) AS in_a,
       |    bool_or(doc_id % 2 = 0) AS in_b
       |  FROM win GROUP BY h),
       |ka AS (SELECT h FROM sh WHERE in_a ORDER BY h LIMIT $KmvK),
       |kb AS (SELECT h FROM sh WHERE in_b ORDER BY h LIMIT $KmvK),
       |ku AS (SELECT DISTINCT h FROM
       |  (SELECT h FROM ka UNION ALL SELECT h FROM kb) ORDER BY h LIMIT $KmvK),
       |m AS (
       |  SELECT count(*)::BIGINT AS m FROM ku
       |  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
       |ex AS (
       |  SELECT sum(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS na,
       |    sum(CASE WHEN in_b THEN 1 ELSE 0 END)::BIGINT AS nb,
       |    sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)::BIGINT AS nc
       |  FROM sh)
       |SELECT na, nb, nc,
       |  (1000 * nc) // (na + nb - nc) AS jaccard_pm,
       |  m.m,
       |  (1000 * m.m) // $KmvK AS est_pm,
       |  abs((1000 * nc) // (na + nb - nc) - (1000 * m.m) // $KmvK) AS err_pm,
       |  abs((1000 * nc) // (na + nb - nc) - (1000 * m.m) // $KmvK)
       |    <= $KmvErrBoundPm AS within_bound
       |FROM ex, m""".stripMargin
  }

  // ---- q164: content-defined chunking (storage dedup report) ----------

  /** Boundary rate: a bigram opens a new chunk when h60 mod 16 == 0
    * (expected chunk length ~16 words; measured 12.3 on this corpus). */
  val CdcBoundaryMod = 16

  /** Content-defined chunking — the rolling-boundary dedup that dataset
    * versioning / blob stores (rsync, restic, Hugging Face Xet) use so
    * an EDIT to a document re-uploads only the chunks it touched:
    * boundaries fall where `h60(wᵢ₋₁:wᵢ) mod 16 = 0`, a pure function
    * of LOCAL content, so an insertion shifts at most its own chunk's
    * boundary while fixed-size chunking would shift every later chunk.
    * The report: corpus-wide chunk census + duplicate-chunk savings
    * (near-dup documents share long word runs ⇒ identical chunks ⇒
    * their bytes store once), with every chunk identified by the md5
    * of its reassembled text — so the gate pins the exact chunking,
    * not just the counts.
    *
    * Scale shape: ONE hash shuffle on doc_id serves the boundary lag,
    * the running chunk-id sum, and the chunk reassembly (three window/
    * group passes over the same partitioning); the digest census is a
    * map-side-collapsed aggregate on chunk hashes. The oracle builds
    * the same chunks WITHOUT a window (DuckDB indexes the word array
    * directly) — two constructions, one result. */
  def cdcChunking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(lower(trim(col("text"))), "\\s+")))
      .toDF("doc_id", "pos", "word")
    val chunks = toks
      .withColumn("prev", lag("word", 1).over(w))
      .withColumn("boundary", col("prev").isNotNull &&
        pmod(Hashing.h60(concat(col("prev"), lit(":"), col("word"))),
          lit(CdcBoundaryMod)) === 0)
      .withColumn("chunk_id",
        sum(when(col("boundary"), 1L).otherwise(0L)).over(w))
      .groupBy("doc_id", "chunk_id")
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(pos, word))), x -> x.word), ' ')").as("chunk_text"))
      .select(md5(col("chunk_text")).as("digest"),
        length(col("chunk_text")).cast("long").as("bytes"),
        (size(split(col("chunk_text"), " "))).cast("long").as("words"))
    val census = chunks.groupBy("digest")
      .agg(count(lit(1)).as("cnt"), min(col("bytes")).as("bytes"),
        min(col("words")).as("words"))
    census.agg(
        sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("cnt") - 1).as("n_dup_instances"),
        sum(col("cnt") * col("bytes")).as("total_bytes"),
        sum((col("cnt") - 1) * col("bytes")).as("dup_bytes"),
        sum(col("cnt") * col("words")).as("total_words"))
      .select(col("n_chunks"), col("n_distinct"), col("n_dup_instances"),
        col("total_bytes"), col("dup_bytes"),
        expr("(1000 * dup_bytes) div total_bytes").as("savings_pm"),
        expr("(1000 * total_words) div n_chunks").as("mean_chunk_words_pm"))
  }

  val cdcChunkingSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, u.i AS pos, w[u.i] AS word,
       |    CASE WHEN u.i > 1 AND
       |      (${Hashing.h60Sql("w[u.i - 1] || ':' || w[u.i]")}
       |        % $CdcBoundaryMod) = 0 THEN 1 ELSE 0 END AS boundary
       |  FROM d, unnest(generate_series(1, len(w), 1)) AS u(i)),
       |c AS (
       |  SELECT doc_id,
       |    sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS UNBOUNDED PRECEDING) AS chunk_id,
       |    pos, word
       |  FROM t),
       |ch AS (
       |  SELECT md5(string_agg(word, ' ' ORDER BY pos)) AS digest,
       |    length(string_agg(word, ' ' ORDER BY pos))::BIGINT AS bytes,
       |    count(*)::BIGINT AS words
       |  FROM c GROUP BY doc_id, chunk_id),
       |cen AS (
       |  SELECT digest, count(*)::BIGINT AS cnt, min(bytes) AS bytes,
       |    min(words) AS words
       |  FROM ch GROUP BY digest)
       |SELECT sum(cnt)::BIGINT AS n_chunks,
       |  count(*)::BIGINT AS n_distinct,
       |  sum(cnt - 1)::BIGINT AS n_dup_instances,
       |  sum(cnt * bytes)::BIGINT AS total_bytes,
       |  sum((cnt - 1) * bytes)::BIGINT AS dup_bytes,
       |  ((1000 * sum((cnt - 1) * bytes)) // sum(cnt * bytes))::BIGINT
       |    AS savings_pm,
       |  ((1000 * sum(cnt * words)) // sum(cnt))::BIGINT AS mean_chunk_words_pm
       |FROM cen""".stripMargin

  // ---- q168: Johnson-Lindenstrauss projection distortion --------------

  /** Target dimensionality of the random ±1 projection. */
  val JlK = 16
  /** Component quantization (q148's convention). */
  val JlQuant = 10000L
  /** Sampled vectors: all pairs over ids < this bound. */
  val JlSample = 32L

  /** The dimensionality-reduction health check behind every "can we
    * retrieve on 16 dims instead of 64" decision — a deterministic
    * Johnson-Lindenstrauss projection (±1 hyperplanes from md5 signs,
    * the q68 plane discipline, so both engines regenerate the IDENTICAL
    * matrix) applied to a bounded pair sample, reporting the squared-
    * distance distortion distribution. ALL integer: components quantize
    * to floor(x·10⁴) first (q148), projections are ±1 integer sums,
    * squared distances exact integer sums, and the distortion ratio is
    * `(1000·d²_proj) div (k·d²_orig)` — each ±1 row of the matrix has
    * E[(P(x−y))ⱼ²] = ‖x−y‖², so E[‖P(x−y)‖²] = k·‖x−y‖² and the
    * normalized expectation is 1000, spread ~1/√k. Complements q133 (matryoshka PREFIX
    * truncation): JL mixes all dims instead of dropping the tail, the
    * right tool when prefixes were not trained to matter.
    *
    * Scale shape: the distortion SAMPLE is all pairs over [[JlSample]]
    * ids (bounded, exact); applying the projection corpus-wide is one
    * scan of k·d integer multiply-adds per row — the report decides
    * whether to run it. */
  def jlDistortion(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "embeddings")
      .filter(col("vec_id") < JlSample)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d").cast("long").as("d"),
        floor(col("x").cast("double") * lit(JlQuant)).cast("long").as("q"))
    val dims = e.agg(max(col("d"))).head().getLong(0) + 1
    // deterministic ±1 planes: sign(j, d) = h60("jl:j:d") parity
    val planes = spark.range(JlK).toDF("j").crossJoin(
        spark.range(dims).toDF("d"))
      .withColumn("s", when(pmod(Hashing.h60(
        concat(lit("jl:"), col("j"), lit(":"), col("d"))), lit(2)) === 0, 1L)
        .otherwise(-1L))
    val proj = e.join(broadcast(planes), "d")
      .groupBy("vec_id", "j").agg(sum(expr("q * s")).as("y"))
    def pairDists(df: DataFrame, valueCol: String, out: String): DataFrame =
      df.as("a").join(df.as(
          "b"), col("a.vec_id") < col("b.vec_id") &&
          col(s"a.${df.columns(1)}") === col(s"b.${df.columns(1)}"))
        .groupBy(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
        .agg(sum(expr(s"(a.$valueCol - b.$valueCol) * (a.$valueCol - b.$valueCol)"))
          .as(out))
    val dOrig = pairDists(e.select(col("vec_id"), col("d"), col("q")), "q", "d2_orig")
    val dProj = pairDists(proj.select(col("vec_id"), col("j"), col("y")), "y", "d2_proj")
    dOrig.join(dProj, Seq("ia", "ib"))
      .withColumn("ratio_pm",
        expr(s"(1000 * d2_proj) div ($JlK * d2_orig)"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(ratio_pm) div count(1)").as("mean_ratio_pm"),
        min(col("ratio_pm")).as("min_ratio_pm"),
        max(col("ratio_pm")).as("max_ratio_pm"),
        sum(when(col("ratio_pm").between(500, 1500), 1L).otherwise(0L))
          .as("n_within_50pct"))
  }

  val jlDistortionSql: String =
    s"""WITH e0 AS (
       |  SELECT vec_id, embedding, generate_subscripts(embedding, 1) AS i
       |  FROM embeddings WHERE vec_id < $JlSample),
       |e AS (
       |  SELECT vec_id, (i - 1)::BIGINT AS d,
       |    floor(embedding[i]::DOUBLE * $JlQuant)::BIGINT AS q
       |  FROM e0),
       |dims AS (SELECT (max(d) + 1)::BIGINT AS nd FROM e),
       |pl AS (
       |  SELECT j.j, d.d,
       |    CASE WHEN (${Hashing.h60Sql("'jl:' || j.j::VARCHAR || ':' || d.d::VARCHAR")}
       |      % 2) = 0 THEN 1 ELSE -1 END AS s
       |  FROM (SELECT unnest(generate_series(0, $JlK - 1)) AS j) j
       |  CROSS JOIN (SELECT unnest(generate_series(0,
       |    (SELECT nd - 1 FROM dims))) AS d) d),
       |proj AS (
       |  SELECT e.vec_id, pl.j, sum(e.q * pl.s)::BIGINT AS y
       |  FROM e JOIN pl ON pl.d = e.d GROUP BY e.vec_id, pl.j),
       |dor AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    sum((a.q - b.q) * (a.q - b.q))::BIGINT AS d2_orig
       |  FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.d = b.d
       |  GROUP BY 1, 2),
       |dpr AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    sum((a.y - b.y) * (a.y - b.y))::BIGINT AS d2_proj
       |  FROM proj a JOIN proj b ON a.vec_id < b.vec_id AND a.j = b.j
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT ((1000 * d2_proj) // ($JlK * d2_orig))::BIGINT AS ratio_pm
       |  FROM dor JOIN dpr USING (ia, ib))
       |SELECT count(*)::BIGINT AS n_pairs,
       |  (sum(ratio_pm) // count(*))::BIGINT AS mean_ratio_pm,
       |  min(ratio_pm)::BIGINT AS min_ratio_pm,
       |  max(ratio_pm)::BIGINT AS max_ratio_pm,
       |  sum(CASE WHEN ratio_pm BETWEEN 500 AND 1500 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_within_50pct
       |FROM r""".stripMargin

  // ---- q159: MMR diverse top-k selection ------------------------------

  /** Candidate pool per query (the retriever's head). */
  val MmrPool = 50
  /** Diverse results to select. */
  val MmrK = 10
  /** Dense query vector id (the q150 convention). */
  val MmrQueryId = 0L

  /** Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98) — the
    * diversity re-ranker between retrieval and consumption (RAG context
    * assembly, eval-set picking, labeling-batch selection): greedily
    * pick argmax of λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), so each new
    * pick is relevant but NOT redundant with what's already selected.
    * λ = 0.7 in integer tenths; relevance and pairwise similarities are
    * quantized to integer MICRO-cosines first (the engine-exact q13
    * cosine contract makes the quantization stable), so every score,
    * tie-break, and pick is exact integer arithmetic — `div` truncation
    * on negative cosines is the DivSemanticsSpec-pinned cross-engine
    * agreement. The greedy loop is bounded driver state (pool ≤
    * [[MmrPool]], like the q117/q131 folds); the oracle replays ALL
    * [[MmrK]] selection rounds as generated SQL stages (the q149
    * pattern), so a wrong similarity, tie-break, or λ at any round
    * shifts every later pick.
    *
    * Scale shape: corpus-scale work is ONE scan (the relevance pass,
    * broadcast query, TakeOrderedAndProject cut to the pool); the
    * pool×pool similarity matrix is [[MmrPool]]² rows. At a larger K·n
    * the pool comes from ANN (q25) instead — the greedy stays
    * pool-bounded either way. */
  def mmrSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), CosineKnn.toDoubleArray(col("embedding")).as("v"))
    val qv = emb.filter(col("vec_id") === MmrQueryId).select(col("v").as("qv"))
    val rel = emb.filter(col("vec_id") =!= MmrQueryId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(lit(1e6) * CosineKnn.cosine(col("qv"), col("v")))
          .cast("long").as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrPool)
    val pool = rel.join(emb, "vec_id")
    val a = pool.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = pool.select(col("vec_id").as("ib"), col("v").as("vb"))
    val sims = a.crossJoin(broadcast(b)).filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        round(lit(1e6) * CosineKnn.cosine(col("va"), col("vb")))
          .cast("long").as("s"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val cands = rel.collect().map(r => (r.getLong(0), r.getLong(1)))
    var selected = Vector.empty[(Long, Long, Long)]
    var remaining = cands.toVector
    while (selected.length < MmrK && remaining.nonEmpty) {
      val scored = remaining.map { case (id, r) =>
        val maxsim =
          if (selected.isEmpty) 0L
          else selected.map(s => sims((id, s._1))).max
        (id, r, (7 * r) / 10 - (3 * maxsim) / 10)
      }
      val best = scored.minBy { case (id, _, sc) => (-sc, id) }
      selected :+= best
      remaining = remaining.filterNot(_._1 == best._1)
    }
    selected.zipWithIndex.map { case ((id, r, sc), i) => (i + 1L, id, r, sc) }
      .toDF("sel_rank", "vec_id", "rel_micro", "score_micro")
      .orderBy("sel_rank")
  }

  val mmrSelectSql: String = {
    def stage(k: Int): String =
      if (k == 1)
        s"""s1 AS MATERIALIZED (
           |  SELECT id, rel, ((7 * rel) // 10)::BIGINT AS score
           |  FROM rel ORDER BY score DESC, id LIMIT 1),
           |sel1 AS MATERIALIZED (SELECT id FROM s1)""".stripMargin
      else
        s"""s$k AS MATERIALIZED (
           |  SELECT r.id, r.rel, ((7 * r.rel) // 10 - (3 * (
           |      SELECT max(s.s) FROM sim s JOIN sel${k - 1} x ON s.ib = x.id
           |      WHERE s.ia = r.id)) // 10)::BIGINT AS score
           |  FROM rel r WHERE r.id NOT IN (SELECT id FROM sel${k - 1})
           |  ORDER BY score DESC, id LIMIT 1),
           |sel$k AS MATERIALIZED (SELECT id FROM sel${k - 1} UNION ALL SELECT id FROM s$k)"""
          .stripMargin
    val stages = (1 to MmrK).map(stage).mkString(",\n")
    val unions = (1 to MmrK).map(k =>
      s"SELECT $k::BIGINT AS sel_rank, id AS vec_id, rel AS rel_micro, " +
        s"score AS score_micro FROM s$k").mkString("\nUNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |qv AS (SELECT e FROM v WHERE vec_id = $MmrQueryId),
       |relall AS (
       |  SELECT v.vec_id AS id,
       |    round(1000000 * list_cosine_similarity(qv.e, v.e))::BIGINT AS rel
       |  FROM qv, v WHERE v.vec_id <> $MmrQueryId),
       |rel AS MATERIALIZED (
       |  SELECT id, rel FROM relall ORDER BY rel DESC, id LIMIT $MmrPool),
       |pv AS (SELECT rel.id, v.e FROM rel JOIN v ON v.vec_id = rel.id),
       |sim AS MATERIALIZED (
       |  SELECT a.id AS ia, b.id AS ib,
       |    round(1000000 * list_cosine_similarity(a.e, b.e))::BIGINT AS s
       |  FROM pv a, pv b WHERE a.id <> b.id),
       |$stages
       |SELECT * FROM (
       |$unions) ORDER BY sel_rank""".stripMargin
  }

  // ---- q302: decision stump on the quality score -------------------------

  /** The one-split tree every "keep if quality >= tau" rule implicitly
    * is, FITTED: over distinct micro-quality scores, the threshold
    * maximizing information gain against the near-dup label (labels
    * from the pair store — another member of the shared-detector
    * family). q284 RANKS whole features by MI; this picks the actual
    * operating POINT inside the winning feature, publishing the split
    * with both sides' sizes and dup rates — the row a curation config
    * copies its threshold from.
    *
    * Integer discipline: the split criterion is the GINI impurity
    * decrease (CART's stump criterion), which — unlike entropy IG —
    * is RATIONAL in the counts, so no transcendental is ever
    * evaluated at query time (the round-11 red was exactly a
    * cross-engine `round(1e6*ln k)` last-ulp seam; Gini removes the
    * libm call instead of trying to make two libms agree). Side term
    * in micro units, exact integer ops only:
    *   term(n,p) = n*1e6 - (1e6*(p² + (n-p)²)) div n   (term(0,·)=0)
    * is n·1e6·Gini(n,p) up to one deterministic truncation; the split
    * score gain_num = term(N,P) - term(nl,pl) - term(nr,pr) is N·1e6
    * times the impurity decrease, argmax with min-threshold tie-break:
    * a total order, bit-identical cross-engine (all divisions have
    * non-negative operands, where trunc == floor, so Spark `div` ==
    * DuckDB `//`). Overflow: 1e6·p² stays under Long for corpora to
    * ~3e6 docs; past that the same expression runs in DECIMAL(38,0)
    * (both engines support it exactly). Scale shape: one corpus scan +
    * pair-store read collapse to distinct score cells (<= 10^6, the
    * q240 argument); the cumulative window runs over cells, the
    * argmax is a TakeOrdered(1). */
  def decisionStump(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(spark, dir, "documents")
    val pairs = storedVerifiedPairs(spark, dir)
    val dupIds = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val scored = docs
      .join(dupIds.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
      .select(
        round(graft.text.TextStats.qualityScore(col("text")) * lit(1e6))
          .cast("long").as("s"),
        coalesce(col("dup"), lit(0L)).as("y"))
    val cells = scored.groupBy("s")
      .agg(count(lit(1)).as("n"), sum("y").as("p"))
    val w = Window.orderBy("s")
    val cum = cells
      .withColumn("nl", sum("n").over(w.rowsBetween(
        Window.unboundedPreceding, 0)))
      .withColumn("pl", sum("p").over(w.rowsBetween(
        Window.unboundedPreceding, 0)))
    val tot = scored.agg(count(lit(1)).as("nn"), sum("y").as("pp"))
    def term(n: String, p: String): String =
      s"CASE WHEN $n > 0 THEN $n * 1000000 " +
        s"- (1000000 * (($p) * ($p) + ($n - ($p)) * ($n - ($p)))) div $n " +
        "ELSE 0 END"
    val splits = cum.crossJoin(broadcast(tot))
      .filter(col("nl") < col("nn")) // a split must leave a right side
      .withColumn("gain_num", expr(
        s"(${term("nn", "pp")}) - (${term("nl", "pl")}) " +
          s"- (${term("(nn - nl)", "(pp - pl)")})"))
    splits
      .orderBy(desc("gain_num"), asc("s")).limit(1)
      .select(col("nn").as("n_docs"), col("pp").as("n_dup"),
        col("s").as("best_threshold"),
        // Gini decrease >= 0 mathematically; quantization can dip a
        // hair below zero - q239's sign peel keeps div/'//' aligned
        expr("""CASE WHEN gain_num >= 0 THEN gain_num div nn
                ELSE -((-gain_num) div nn) END""").as("gini_gain_micro"),
        col("nl").as("n_left"), (col("nn") - col("nl")).as("n_right"),
        expr("(1000 * pl) div nl").as("dup_left_pm"),
        expr("(1000 * (pp - pl)) div (nn - nl)").as("dup_right_pm"))
  }

  val decisionStumpSql: String = {
    def term(n: String, p: String): String =
      s"CASE WHEN $n > 0 THEN $n * 1000000 " +
        s"- (1000000 * (($p) * ($p) + ($n - ($p)) * ($n - ($p)))) // $n " +
        "ELSE 0 END"
    s"""WITH pairs AS (
       |${dedupMinhashSql}
       |),
       |dups AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM pairs
       |    UNION ALL SELECT doc_b FROM pairs)),
       |sc AS (
       |  SELECT round(${graft.text.TextStats.qualityScoreSql("text")}
       |      * 1e6)::BIGINT AS s,
       |    (CASE WHEN dups.doc_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS y
       |  FROM documents d LEFT JOIN dups ON d.doc_id = dups.doc_id),
       |cells AS (
       |  SELECT s, count(*)::BIGINT AS n, sum(y)::BIGINT AS p
       |  FROM sc GROUP BY 1),
       |cum AS (
       |  SELECT s,
       |    sum(n) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS nl,
       |    sum(p) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS pl
       |  FROM cells),
       |tot AS (
       |  SELECT count(*)::BIGINT AS nn, sum(y)::BIGINT AS pp FROM sc),
       |ig AS (
       |  SELECT s, nl, pl, nn, pp,
       |    (${term("nn", "pp")}) - (${term("nl", "pl")})
       |      - (${term("(nn - nl)", "(pp - pl)")}) AS gain_num
       |  FROM cum, tot WHERE nl < nn)
       |SELECT nn AS n_docs, pp AS n_dup, s AS best_threshold,
       |  (CASE WHEN gain_num >= 0 THEN gain_num // nn
       |        ELSE -((-gain_num) // nn) END)::BIGINT AS gini_gain_micro,
       |  nl::BIGINT AS n_left, (nn - nl)::BIGINT AS n_right,
       |  ((1000 * pl) // nl)::BIGINT AS dup_left_pm,
       |  ((1000 * (pp - pl)) // (nn - nl))::BIGINT AS dup_right_pm
       |FROM ig ORDER BY gain_num DESC, s LIMIT 1""".stripMargin
  }

  // ---- q304: cross-detector agreement audit ------------------------------

  /** Do the two text near-dup detectors AGREE? — the pair-set Venn of
    * q11's SimHash (Hamming <= 3 on 64-bit fingerprints: fast, order-
    * sensitive, misses reorderings) against q10's verified MinHash
    * pairs (exact Jaccard >= 0.5 on shingle SETS: order-blind). Wide
    * disagreement means the corpus's duplication mode (reordered
    * mirrors vs verbatim copies) makes the detector CHOICE a recall
    * decision, not a cost decision — the audit to run before betting a
    * pipeline on the cheaper one. MinHash pairs read from the pair
    * store; SimHash recomputes (its fingerprints are the thing under
    * audit). One full-outer join of two collision-bounded pair
    * tables -> one row of Venn counts + agreement Jaccard. */
  def detectorAgreement(spark: SparkSession, dir: String): DataFrame = {
    val mh = storedVerifiedPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_mh"))
    val shRes = SimHash.nearDuplicatesResult(
      table(spark, dir, "documents"), "doc_id", "text", SimhashMaxHamming)
    val sh = shRes.df
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_sh"))
    val out = mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("in_mh"), lit(0L))).as("minhash_pairs"),
        sum(coalesce(col("in_sh"), lit(0L))).as("simhash_pairs"),
        sum(when(col("in_mh").isNotNull && col("in_sh").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        count(lit(1)).as("union_pairs"))
      .select(col("minhash_pairs"), col("simhash_pairs"), col("n_both"),
        (col("minhash_pairs") - col("n_both")).as("only_minhash"),
        (col("simhash_pairs") - col("n_both")).as("only_simhash"),
        expr("(1000 * n_both) div greatest(union_pairs, 1)")
          .as("agreement_pm"))
      .localCheckpoint(true)
    shRes.release()
    out
  }

  val detectorAgreementSql: String =
    s"""WITH mh AS MATERIALIZED (
       |$dedupMinhashSql
       |),
       |sh AS MATERIALIZED (
       |$dedupSimhashSql
       |),
       |v AS (
       |  SELECT
       |    sum(CASE WHEN mh.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |      AS minhash_pairs,
       |    sum(CASE WHEN sh.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |      AS simhash_pairs,
       |    sum(CASE WHEN mh.doc_a IS NOT NULL AND sh.doc_a IS NOT NULL
       |      THEN 1 ELSE 0 END)::BIGINT AS n_both,
       |    count(*)::BIGINT AS union_pairs
       |  FROM mh FULL OUTER JOIN sh
       |    ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b)
       |SELECT minhash_pairs, simhash_pairs, n_both,
       |  (minhash_pairs - n_both)::BIGINT AS only_minhash,
       |  (simhash_pairs - n_both)::BIGINT AS only_simhash,
       |  ((1000 * n_both) // greatest(union_pairs, 1))::BIGINT
       |    AS agreement_pm
       |FROM v""".stripMargin

  // ---- q305: Pareto frontier (skyline) selection --------------------------

  /** The PARETO FRONTIER of (quality, token count) — multi-objective
    * document selection without a weighting: a doc survives iff no
    * other doc is >= on both axes and > on one (equal points are
    * mutually non-dominating and both stay). This is what "take the
    * best docs" means before someone arbitrarily picks a scalar blend;
    * the frontier is also the input set to any downstream weighted
    * choice.
    *
    * 2-D skyline without any pairwise join: collapse to distinct
    * (q, t) cells, reduce to per-q max-t, one DESC-q cumulative max
    * gives `best t among strictly higher q` — a frontier cell is a
    * per-q max-t cell strictly above it. Cells are bounded by score
    * resolution x length resolution, never corpus size; docs join
    * back to frontier cells by equi-join. The oracle states the
    * definition directly (NOT EXISTS dominator). */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = table(spark, dir, "documents")
      .select(col("doc_id"),
        round(graft.text.TextStats.qualityScore(col("text")) * lit(1e6))
          .cast("long").as("q"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("t"))
    val cells = scored.groupBy("q").agg(max("t").as("mt"))
    val byQDesc = Window.orderBy(desc("q"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontierCells = cells
      .withColumn("best_above", max("mt").over(byQDesc))
      .filter(col("best_above").isNull || col("mt") > col("best_above"))
      .select(col("q"), col("mt").as("t"))
    scored.join(frontierCells, Seq("q", "t"), "left_semi")
      .select(col("doc_id"), col("q").as("quality_micro"),
        col("t").as("n_tokens"))
      .orderBy("doc_id")
  }

  val paretoFrontierSql: String =
    s"""WITH sc AS (
       |  SELECT doc_id,
       |    round(${graft.text.TextStats.qualityScoreSql("text")}
       |      * 1e6)::BIGINT AS q,
       |    len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS t
       |  FROM documents)
       |SELECT doc_id, q AS quality_micro, t AS n_tokens
       |FROM sc a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM sc b
       |  WHERE b.q >= a.q AND b.t >= a.t AND (b.q > a.q OR b.t > a.t))
       |ORDER BY doc_id""".stripMargin

  // ---- q317/q318: end-to-end curation funnel --------------------------

  /** Funnel quality floor, in the micro-quality units every quality
    * gate on this surface shares (q240/q280/q302/q305): the comparison
    * is integer-vs-integer, so no float boundary can diverge
    * cross-engine. */
  val FunnelQualityMinMicro = 500000L

  /** Per-document funnel flags shared by q317/q318 — one corpus scan
    * computing the CUMULATIVE stage predicates of the canonical
    * pretraining curation chain (FineWeb/RefinedWeb shape):
    * language-ID == 'en' → quality floor → Gopher word-count bounds →
    * near-dup keep-first (drop every `doc_b` of a stored verified
    * pair; pairs are min-id-first, so this is the q80 keep-first
    * policy over the pair graph). The dup-loser table comes from the
    * persisted pair store (one detector run per corpus generation) and
    * BROADCASTS into the left join — at 100 TB the funnel is one scan
    * + one broadcast join, no corpus shuffle anywhere.
    *
    * Language scores are materialized as plain columns BEFORE the
    * argmax fold ([[graft.text.TextStats.langIdFromScores]] duplicates
    * each score subtree O(2^langs) if fed nested expressions). */
  private def funnelFlags(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextStats
    val docs = table(spark, dir, "documents")
    val losers = storedVerifiedPairs(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    val scoreCols = TextStats.langScores(col("text"))
      .map { case (lang, c) => c.as(s"ls_$lang") }
    val base = docs.select(Seq(col("doc_id"), col("source"),
      TextStats.nTokens(col("text")).as("nw"),
      round(TextStats.qualityScore(col("text")) * lit(1e6))
        .cast("long").as("qm")) ++ scoreCols: _*)
    val lang = TextStats.langIdFromScores(
      TextStats.langMarkers.map { case (l, _) => l -> col(s"ls_$l") })
    base
      .join(broadcast(losers.withColumn("loser", lit(true))),
        Seq("doc_id"), "left")
      .select(col("source"), col("nw"),
        (lang === "en").as("c1"),
        coalesce(col("loser"), lit(false)).as("loser"), col("qm"))
      .withColumn("c2", col("c1") && col("qm") >= FunnelQualityMinMicro)
      .withColumn("c3", col("c2") && col("nw")
        .between(CleaningQueries.GopherMinWords, CleaningQueries.GopherMaxWords))
      .withColumn("c4", col("c3") && !col("loser"))
  }

  /** The curation funnel REPORT — one row per stage of the chain with
    * surviving doc and token counts, cumulative yield, and the
    * stage-local drop rate: the number every data-curation writeup
    * publishes and every pipeline change is judged against. All
    * arithmetic integer (`div`), rule cardinality bounds everything
    * after the single scan + tiny aggregate (the q113 stack shape). */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val f = funnelFlags(spark, dir)
    def n(c: String) = sum(when(col(c), 1L).otherwise(0L))
    def t(c: String) = coalesce(sum(when(col(c), col("nw"))), lit(0L))
    val agg = f.agg(count(lit(1)).as("n0"), sum(col("nw")).as("t0"),
      n("c1").as("n1"), t("c1").as("t1"), n("c2").as("n2"), t("c2").as("t2"),
      n("c3").as("n3"), t("c3").as("t3"), n("c4").as("n4"), t("c4").as("t4"))
    agg.select(expr(
        "stack(5, 0L, 'all', n0, t0, n0, " +
          "1L, 'lang_en', n1, t1, n0, " +
          "2L, 'quality', n2, t2, n1, " +
          "3L, 'length', n3, t3, n2, " +
          "4L, 'dedup', n4, t4, n3)")
        .as(Seq("stage_idx", "stage", "n_docs", "n_tokens", "prev_n")),
        col("n0"))
      .select(col("stage_idx"), col("stage"), col("n_docs"), col("n_tokens"),
        expr("(1000 * n_docs) div n0").as("yield_pm"),
        expr("(1000 * (prev_n - n_docs)) div greatest(prev_n, 1L)")
          .as("stage_drop_pm"))
      .orderBy("stage_idx")
  }

  /** Funnel oracle CTEs shared by q317/q318: the pair store's verified
    * pairs (full MinHash SQL), the dup-loser id set, and the per-doc
    * cumulative stage flags. */
  private def funnelFlagsCte: String = {
    import graft.text.TextStats
    s"""WITH pairs AS (
       |${dedupMinhashSql}
       |),
       |losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
       |f AS (
       |  SELECT d.source, ${TextStats.nTokensSql("text")} AS nw,
       |    round(${TextStats.qualityScoreSql("text")} * 1e6)::BIGINT AS qm,
       |    (${TextStats.langIdSql("text")} = 'en') AS c1,
       |    (l.doc_id IS NOT NULL) AS loser
       |  FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id),
       |c AS (
       |  SELECT source, nw, c1,
       |    (c1 AND qm >= $FunnelQualityMinMicro) AS c2,
       |    (c1 AND qm >= $FunnelQualityMinMicro
       |      AND nw BETWEEN ${CleaningQueries.GopherMinWords}
       |      AND ${CleaningQueries.GopherMaxWords}) AS c3,
       |    (c1 AND qm >= $FunnelQualityMinMicro
       |      AND nw BETWEEN ${CleaningQueries.GopherMinWords}
       |      AND ${CleaningQueries.GopherMaxWords} AND NOT loser) AS c4
       |  FROM f)""".stripMargin
  }

  val curationFunnelSql: String =
    s"""$funnelFlagsCte,
       |a AS (
       |  SELECT count(*)::BIGINT AS n0, sum(nw)::BIGINT AS t0,
       |    sum(CASE WHEN c1 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |    coalesce(sum(CASE WHEN c1 THEN nw END), 0)::BIGINT AS t1,
       |    sum(CASE WHEN c2 THEN 1 ELSE 0 END)::BIGINT AS n2,
       |    coalesce(sum(CASE WHEN c2 THEN nw END), 0)::BIGINT AS t2,
       |    sum(CASE WHEN c3 THEN 1 ELSE 0 END)::BIGINT AS n3,
       |    coalesce(sum(CASE WHEN c3 THEN nw END), 0)::BIGINT AS t3,
       |    sum(CASE WHEN c4 THEN 1 ELSE 0 END)::BIGINT AS n4,
       |    coalesce(sum(CASE WHEN c4 THEN nw END), 0)::BIGINT AS t4
       |  FROM c),
       |u AS (
       |  SELECT 0::BIGINT AS stage_idx, 'all' AS stage, n0 AS n_docs,
       |    t0 AS n_tokens, n0 AS prev_n, n0 FROM a
       |  UNION ALL SELECT 1, 'lang_en', n1, t1, n0, n0 FROM a
       |  UNION ALL SELECT 2, 'quality', n2, t2, n1, n0 FROM a
       |  UNION ALL SELECT 3, 'length', n3, t3, n2, n0 FROM a
       |  UNION ALL SELECT 4, 'dedup', n4, t4, n3, n0 FROM a)
       |SELECT stage_idx, stage, n_docs, n_tokens,
       |  ((1000 * n_docs) // n0)::BIGINT AS yield_pm,
       |  ((1000 * (prev_n - n_docs)) // greatest(prev_n, 1))::BIGINT
       |    AS stage_drop_pm
       |FROM u ORDER BY stage_idx""".stripMargin

  /** The funnel ATTRIBUTED BY SOURCE — per source, how many documents
    * enter and how many survive each stage: the audit that names WHICH
    * feed loses its mass at WHICH gate (a per-source `yield_pm`
    * collapse at `lang` vs at `dedup` demands opposite fixes). Same
    * single-scan flags, one groupBy(source) — 20 output rows here,
    * source cardinality anywhere. */
  def funnelBySource(spark: SparkSession, dir: String): DataFrame = {
    val f = funnelFlags(spark, dir)
    def n(c: String) = sum(when(col(c), 1L).otherwise(0L))
    f.groupBy(col("source"))
      .agg(count(lit(1)).as("n_all"), n("c1").as("n_lang"),
        n("c2").as("n_quality"), n("c3").as("n_length"), n("c4").as("n_kept"))
      .withColumn("yield_pm", expr("(1000 * n_kept) div n_all"))
      .orderBy("source")
  }

  val funnelBySourceSql: String =
    s"""$funnelFlagsCte
       |SELECT source, count(*)::BIGINT AS n_all,
       |  sum(CASE WHEN c1 THEN 1 ELSE 0 END)::BIGINT AS n_lang,
       |  sum(CASE WHEN c2 THEN 1 ELSE 0 END)::BIGINT AS n_quality,
       |  sum(CASE WHEN c3 THEN 1 ELSE 0 END)::BIGINT AS n_length,
       |  sum(CASE WHEN c4 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  ((1000 * sum(CASE WHEN c4 THEN 1 ELSE 0 END)) // count(*))::BIGINT
       |    AS yield_pm
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  // ---- q323: greedy k-center coreset (Gonzalez) ----------------------------

  val KCenterK = 8
  /** The seed center: the smallest vec_id — a pinned deterministic
    * start (Gonzalez is 2-approx from ANY start). */
  val KCenterSeed = 0L

  /** Coreset SELECTION for data pruning — the "pick K maximally-spread
    * exemplars" primitive behind diversity-aware subsampling
    * (herding/k-center lineage; SemDedup's complement: q86 REMOVES
    * redundancy, this KEEPS a spanning skeleton): Gonzalez's greedy
    * 2-approximation to the k-center cover. Each round adds the point
    * FARTHEST (max min-cosine-distance, micro-quantized; vec_id
    * tie-break — a total order) from the centers so far, and publishes
    * it with its distance at selection — a nonincreasing sequence
    * whose k-th value is the (2-approx) coverage radius of k centers:
    * the curve a "how many exemplars do I need" decision reads.
    *
    * Scale shape: the greedy is inherently sequential in K but each
    * round is ONE corpus scan against a SINGLE broadcast vector
    * (update `mind = least(mind, d(v, c_new))`, then a TakeOrdered(1)
    * argmax) — K scans total, no pairwise matrix anywhere;
    * `localCheckpoint` per round caps plan growth (the q268/q282
    * iterative-loop lesson). The oracle replays the identical greedy
    * as K unrolled MATERIALIZED stages (the q159 pattern). */
  def kcenterCoreset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.similarity.CosineKnn.toDoubleArray(col("embedding")).as("v"))
    def vecOf(id: Long): Array[Double] =
      emb.filter(col("vec_id") === id).head.getSeq[Double](1).toArray
    def dTo(center: Array[Double]) =
      lit(1000000L) - round(lit(1e6) *
        graft.similarity.CosineKnn.cosine(col("v"), typedLit(center)))
        .cast("long")
    var state = emb.filter(col("vec_id") =!= KCenterSeed)
      .withColumn("mind", dTo(vecOf(KCenterSeed)))
      .localCheckpoint(true)
    var selected = Vector((1L, KCenterSeed, 1000000L))
    while (selected.length < KCenterK) {
      // the argmax row carries its own vector — no second lookup scan
      val next = state.orderBy(col("mind").desc, col("vec_id"))
        .select(col("vec_id"), col("mind"), col("v")).head
      val (id, d) = (next.getLong(0), next.getLong(1))
      selected :+= ((selected.length + 1L, id, d))
      if (selected.length < KCenterK)
        state = state.filter(col("vec_id") =!= id)
          .withColumn("mind",
            least(col("mind"), dTo(next.getSeq[Double](2).toArray)))
          .localCheckpoint(true)
    }
    selected.toDF("sel_rank", "vec_id", "dist_micro").orderBy("sel_rank")
  }

  // ---- q330: ANN recall-vs-nprobe tuning curve ----------------------------

  /** The probe ladder. Nested by construction (each prefix of a
    * wider probe set), so recall is provably nondecreasing along it;
    * the last rung is exhaustive (= [[AnnNlist]]), where q25's gate
    * already proves IVF ≡ brute force. */
  val RecallProbeLadder = Seq(1, 2, 4, 8, 16)

  /** Static recall@k floors (permille) per rung, generous-margin
    * calibrated on the shipped corpus family — the same
    * economical-regime floor discipline the IVF specs use, lifted
    * into the gate so a layout/probing regression trips the driver,
    * not just the spec suite. The exhaustive rung's floor is exactly
    * 1000 by mathematics, not measurement. */
  val RecallFloorsPm = Seq(1 -> 250L, 2 -> 400L, 4 -> 550L, 8 -> 700L,
    16 -> 1000L)

  /** The tuning curve every IVF deployment reads before picking
    * nprobe: recall@[[KnnK]] of the multi-probe search against the
    * exact top-k, at each rung of the probe ladder — ONE brute-force
    * pass (the gate-side exact list, [[KnnQueries]] queries only) and
    * one cheap probe-bounded search per rung, all sharing the stored
    * centroids and one assignment pass. Published oracle-checkable:
    * per rung, the recall floor it must clear, nondecreasing-along-
    * the-ladder, and exactness at the exhaustive rung (probe nesting
    * makes the monotone claim a theorem; the floors catch regressions
    * in training/assignment/probing). Raw recall permille rides the
    * spec (AnnRecallSpec), not the hash gate — it is corpus-specific.
    *
    * Scale shape: the exact list is query-bounded (16 × corpus scan,
    * map-side top-k); each rung is a cell-keyed postings join ∝
    * probed cells. At 100 TB the same query runs with a sampled
    * query set — the curve is a statistic, not a per-row product. */
  def annRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = table(spark, dir, "embeddings")
    val centroids = storedCentroids(spark, dir, "full", AnnNlist)
    val assigned = IvfIndex.assign(emb, "vec_id", "embedding", centroids)
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < KnnQueries)
    val exact = CosineKnn.topK(emb, "vec_id", "embedding", queries, KnnK)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val denom = exact.count()
    val recalls = RecallProbeLadder.map { np =>
      val hits = IvfIndex.search(assigned, "vec_id", "embedding", queries,
          centroids, KnnK, nprobe = np)
        .select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"))
        .count()
      np.toLong -> (1000L * hits) / denom
    }
    val rows = recalls.zip(RecallFloorsPm).zipWithIndex.map {
      case (((np, r), (_, floor)), i) =>
        val prev = if (i == 0) 0L else recalls(i - 1)._2
        (np, floor, r >= floor, r >= prev,
          np != AnnNlist.toLong || r == 1000L)
    }
    rows.toDF("nprobe", "floor_pm", "above_floor", "nondecreasing",
        "exact_at_exhaustive")
      .orderBy("nprobe")
  }

  val annRecallCurveSql: String = {
    val rows = RecallFloorsPm.map { case (np, f) =>
      s"($np, $f, TRUE, TRUE, TRUE)"
    }.mkString(", ")
    s"""SELECT nprobe::BIGINT AS nprobe, floor_pm::BIGINT AS floor_pm,
       |  above_floor, nondecreasing, exact_at_exhaustive
       |FROM (VALUES $rows)
       |  t(nprobe, floor_pm, above_floor, nondecreasing,
       |    exact_at_exhaustive)
       |ORDER BY nprobe""".stripMargin
  }

  val kcenterCoresetSql: String = {
    def stage(k: Int): String =
      if (k == 1)
        s"""m1 AS MATERIALIZED (
           |  SELECT v.vec_id, 1000000 - round(1000000 *
           |      list_cosine_similarity(v.e, s.e))::BIGINT AS mind
           |  FROM v JOIN v s ON s.vec_id = $KCenterSeed
           |  WHERE v.vec_id <> $KCenterSeed),
           |c1 AS MATERIALIZED (
           |  SELECT vec_id, mind FROM m1 ORDER BY mind DESC, vec_id LIMIT 1)"""
          .stripMargin
      else
        s"""m$k AS MATERIALIZED (
           |  SELECT m.vec_id, least(m.mind, 1000000 - round(1000000 *
           |      list_cosine_similarity(v.e, c.e))::BIGINT) AS mind
           |  FROM m${k - 1} m
           |  JOIN v ON v.vec_id = m.vec_id
           |  JOIN v c ON c.vec_id = (SELECT vec_id FROM c${k - 1})
           |  WHERE m.vec_id <> (SELECT vec_id FROM c${k - 1})),
           |c$k AS MATERIALIZED (
           |  SELECT vec_id, mind FROM m$k ORDER BY mind DESC, vec_id LIMIT 1)"""
          .stripMargin
    val stages = (1 until KCenterK).map(stage).mkString(",\n")
    val unions = (1 until KCenterK).map(k =>
      s"SELECT ${k + 1}::BIGINT AS sel_rank, vec_id, mind AS dist_micro FROM c$k")
      .mkString("\nUNION ALL ")
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |$stages
       |SELECT * FROM (
       |SELECT 1::BIGINT AS sel_rank, $KCenterSeed::BIGINT AS vec_id,
       |  1000000::BIGINT AS dist_micro
       |UNION ALL $unions) ORDER BY sel_rank""".stripMargin
  }
}
