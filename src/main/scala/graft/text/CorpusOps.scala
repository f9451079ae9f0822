package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** Corpus-preparation operators a large-scale training-data pipeline needs on
  * top of the pairwise dedup/sketch family in [[TextOps]]: duplicate-cluster
  * resolution (connected components over near-dup candidate pairs),
  * Gopher-style repetition filters, PII scrubbing, deterministic hash-based
  * dataset splits, distribution sketches (quantiles), heavy-hitter vocabulary,
  * and BM25 keyword relevance.
  *
  * Like everything in `graft.text`, each operator is expressed in codegen'd
  * built-ins wherever possible and every query carries an exact DuckDB oracle
  * (the connected-components oracle is a recursive CTE computing min-reachable
  * id, so even the iterative operator is value-gated, not just rows-gated).
  */
object CorpusOps {

  // ---------------------------------------------------------------- clusters

  /** Distributed connected components by iterative min-label propagation with
    * pointer jumping — each round every node takes the min label among itself
    * and its neighbors (one equi-join + partial-aggregated min), then labels
    * are short-circuited through one more self-join (label := label(label)),
    * giving O(log diameter) rounds instead of O(diameter). Convergence is an
    * exact count of changed labels per round (NOT a label-sum probe, which
    * can silently overflow Long on large id domains), so each round costs
    * exactly one action over the already-persisted frame. This is the
    * standard distributed-CC shape (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): at 100 TB every round is two hash joins on the
    * vertex-id key and there is no driver-side graph state; lineage is
    * truncated with `localCheckpoint` every round so the analyzer cost
    * stays flat no matter how many rounds a high-diameter graph needs.
    *
    * @param vertices one `doc_id` column (Long ids; labels are vertex ids)
    * @param symEdges symmetric edge list `(src, dst)` — both directions
    *                 present for every undirected edge
    * @return `(doc_id, label)` where label = min vertex id of the component
    * @throws IllegalStateException when the labels have not converged
    *         after `maxRounds` rounds
    */
  def connectedComponents(vertices: DataFrame, symEdges: DataFrame,
      maxRounds: Int = 20): DataFrame =
    connectedComponentsWithRounds(vertices, symEdges, maxRounds)._1

  /** The previous CC invocation's FINAL label checkpoint. The loop frees
    * every superseded round's cut as it goes, but the last cut backs the
    * returned frame, so only the NEXT invocation can retire it — by then
    * the previous result has been consumed (queries run sequentially; each
    * fully materializes its CC result before another CC query starts).
    * This is what makes repeated invocations (Bench's 3 passes, Verify's
    * full registry, a long notebook session) hold a CONSTANT two label
    * sets + shared sketches in the block store instead of accumulating one
    * final cut per call — `tools/CheckpointAudit` pins that plateau.
    *
    * Single-pipeline assumption, documented: a caller holding TWO live CC
    * results and then building a third would find the oldest's blocks
    * freed — loudly (checkpoint lineage is truncated, so the read fails;
    * it cannot silently recompute wrong data). [[releaseCcState]] is the
    * deterministic hook for consumers that want cleanup NOW. */
  private val ccStateLock = new Object
  private var lastFinalCut: Option[DataFrame] = None
  private def retireLastCut(next: Option[DataFrame]): Unit =
    ccStateLock.synchronized {
      // a cut from an already-STOPPED SparkContext (session cycled in this
      // JVM — one notebook kernel, many sessions; also any test suite that
      // runs a CC query then stops its session) has no block manager left
      // to free against — its BLOCKS died with the context — but a cut
      // made under the reliable policy holds durable checkpoint FILES that
      // survive the context and would leak one dir per cycled session:
      // delete those straight through the filesystem (best-effort; needs
      // no running context), and skip only the block-manager unpersist
      lastFinalCut.foreach { df =>
        if (!df.sparkSession.sparkContext.isStopped)
          org.apache.spark.sql.graft.GraftShims.freeCheckpoint(df)
        else scala.util.Try(
          org.apache.spark.sql.graft.GraftShims.deleteReliableFiles(df))
      }
      lastFinalCut = next
    }

  /** Free the last connected-components invocation's final checkpoint —
    * call after its result is fully consumed (e.g. session teardown). */
  def releaseCcState(): Unit = retireLastCut(None)

  /** [[connectedComponents]] plus the number of label-propagation rounds the
    * loop ran — the observable InvariantCheck pins to O(log diameter). */
  def connectedComponentsWithRounds(vertices: DataFrame, symEdges: DataFrame,
      maxRounds: Int = 20): (DataFrame, Int) = {
    // One propagation round over (doc_id, label): min label among self and
    // neighbors, then pointer jumping — follow the label one hop (label ids
    // ARE vertex ids, so every label has a row), halving the remaining
    // chain length. Returns (doc_id, prev, label).
    def round(labels: DataFrame, edges: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("label").as("nl")),
          Seq("dst"))
        .groupBy(col("src")).agg(min(col("nl")).as("nbr_min"))
        .withColumnRenamed("src", "doc_id")
      val relabeled = labels.select(col("doc_id"), col("label").as("prev"))
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("prev"),
          least(col("prev"), coalesce(col("nbr_min"), col("prev")))
            .as("label"))
      val ptr = relabeled
        .select(col("doc_id").as("pid"), col("label").as("plabel"))
      relabeled.join(ptr, relabeled("label") === ptr("pid"))
        .select(relabeled("doc_id"), col("prev"), col("plabel").as("label"))
    }
    // Singletons never enter the loop: label = own id, one left join.
    def withSingletons(labels: DataFrame): DataFrame =
      vertices.select(col("doc_id"))
        .join(labels.withColumnRenamed("label", "core_label"), Seq("doc_id"),
          "left")
        .select(col("doc_id"),
          coalesce(col("core_label"), col("doc_id")).as("label"))

    if (graft.PlanProbe.planOnly.value) {
      // Plan-only mode (PlanGuardSpec): build TWO structural rounds with no
      // checkpoints and no convergence actions, so a plan sweep sees the
      // per-round join shape — and everything upstream of the (skipped)
      // checkpoints — without executing the iterative job. The labels are
      // NOT converged; never use this path for results.
      val core = symEdges.select(col("src").as("doc_id")).distinct()
      var labels = core.select(col("doc_id"), col("doc_id").as("label"))
      for (_ <- 1 to 2)
        labels = round(labels, symEdges).select(col("doc_id"), col("label"))
      return (withSingletons(labels), 0)
    }

    // localCheckpoint EVERY round (not persist, not periodic cuts): each
    // round's plan references its input labels FOUR times (neighbor-min,
    // relabel, both sides of the pointer jump), so an uncut plan grows 4^r
    // leaf references — persist caches the DATA but leaves the LOGICAL plan
    // in place, and with cuts only every 5 rounds the ANALYZER cost was
    // measured at 22 s on a 5000-row round (driver-side, pure plan walking).
    // Cutting every round keeps every plan a fixed-size tree over two tiny
    // leaves: one label-set materialization per round, the same shape
    // GraphX's Pregel persists per iteration. The previous round's
    // checkpoint is FREED as soon as the new one is materialized
    // (GraftShims.freeCheckpoint — plain unpersist() is a no-op on
    // checkpointed frames), so peak block-store holds TWO label sets + the
    // edge list, and repeated invocations (Bench's 3 passes, Verify over
    // the full registry) don't accumulate storage for the session lifetime.
    //
    // Durability: the per-round cut routes through PlanProbe.cutIter — the
    // default `local` policy localCheckpoints (executor-local,
    // non-recomputable; on a real cluster an executor loss mid-loop fails
    // the job, and the loop state rebuilds from scratch on job retry —
    // single-JVM local mode cannot lose blocks), while the cluster profile
    // `spark.graft.cutPolicy=reliable` checkpoints every round into the
    // durable checkpoint dir, so round state survives executor loss and
    // the retirement below deletes a retired round's files (same
    // two-generation plateau, pinned by CutPolicySpec). The lineage-
    // preserving `disk` policy cannot apply to an iterative cut (the 4^r
    // plan growth above is exactly what truncation prevents) and maps to
    // `local`.
    val free = org.apache.spark.sql.graft.GraftShims.freeCheckpoint _
    // the previous invocation's final cut is dead by now — retire it so
    // repeated invocations plateau instead of accumulating (see
    // lastFinalCut's doc for the single-pipeline assumption)
    retireLastCut(None)
    val edges = graft.PlanProbe.cutIter(symEdges)
    // Iterate ONLY over edge-incident vertices: at realistic near-dup rates
    // the candidate graph touches a few percent of the corpus, so the
    // per-round joins must not drag every corpus vertex through every round
    // — at 100 TB that is the difference between shuffling the whole vertex
    // set ~6 times and shuffling ~1% of it.
    val core = edges.select(col("src").as("doc_id")).distinct()
    // `current` is the live checkpoint backing `labels`; exactly one
    // previous generation is freed per round
    var current = graft.PlanProbe.cutIter(
      core.select(col("doc_id"), col("doc_id").as("label")))
    var labels = current
    var converged = false
    var rounds = 0
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    while (!converged && rounds < maxRounds) {
      val tRound = System.nanoTime()
      // convergence = exact count of changed labels (NOT a label-sum probe,
      // which can silently overflow Long on large id domains), OBSERVED on
      // the checkpoint's own materialization job via CollectMetrics instead
      // of a second count action per round: the metric accumulates while
      // the rows stream into the checkpoint, so each round costs exactly
      // ONE job (r18; was two — the count job re-scanned the blocks and
      // its fixed per-job cost dominated the round at bench scale).
      // observedMetrics reads the plan's own accumulators after the eager
      // checkpoint action, so there is no listener-bus asynchrony.
      val observed = round(labels, edges).observe(s"cc_round_$rounds",
        count(when(col("prev") =!= col("label"), 1)).as("changed"))
      val next = graft.PlanProbe.cutIter(observed)
      val nChanged = observed.queryExecution
        .observedMetrics(s"cc_round_$rounds").getLong(0)
      free(current)
      current = next
      labels = next.select(col("doc_id"), col("label"))
      converged = nChanged == 0L
      rounds += 1
      if (debug) System.err.println(
        f"[cc] round $rounds: changed=$nChanged%d " +
          f"${(System.nanoTime() - tRound) / 1e9}%.2f s")
    }
    // the final round's checkpoint is what the returned frame reads; only
    // the edge list is dead now — the final cut is registered for the NEXT
    // invocation (or releaseCcState) to retire
    free(edges)
    if (!converged) {
      // unconverged labels are WRONG cluster ids: fail, never return them
      free(current)
      throw new IllegalStateException(s"connectedComponents hit the " +
        s"$maxRounds-round cap without converging")
    }
    retireLastCut(Some(current))
    (withSingletons(labels), rounds)
  }

  /** Duplicate-cluster resolution: the step AFTER near-dup pair generation
    * that every corpus dedup actually needs — candidate pairs from the
    * MinHash band join ([[TextOps.lshCandidatePairs]]) are treated as edges
    * of an undirected graph and resolved via [[connectedComponents]], so a
    * cluster {A~B, B~C} keeps ONE canonical doc even though A and C never
    * shared a band.
    *
    * Output: every document with its cluster id (= min doc_id of its
    * component; singletons are their own cluster) and the cluster size. */
  /** DuckDB twin of [[docClusters]]: recursive min-reachable-id CTE chain
    * ending in `cc(doc, cluster)`; compose after `WITH RECURSIVE
    * ${lshCandCte}`. No trailing comma — callers append one when chaining. */
  private val ccCte: String =
    """edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM cand
      |  UNION ALL SELECT doc_b, doc_a FROM cand
      |),
      |reach AS (
      |  SELECT doc_id AS doc, doc_id AS r FROM documents
      |  UNION
      |  SELECT reach.doc, e.dst FROM reach JOIN edges e ON e.src = reach.r
      |),
      |cc AS (SELECT doc, min(r) AS cluster FROM reach GROUP BY doc)""".stripMargin

  /** Cluster assignment for every document: [[connectedComponents]] over the
    * MinHash-band candidate pairs — shared by the cluster queries and the
    * composed pipeline. */
  private def docClusters(s: SparkSession, d: String): DataFrame = {
    val cand = TextOps.lshCandidatePairs(s, d)
    val edges = cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    connectedComponents(Tables.documents(s, d).select(col("doc_id")), edges)
  }

  private val qDupClusters = Q(
    "q_dup_clusters",
    (s, d) => docClusters(s, d)
      .withColumnRenamed("label", "cluster")
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .orderBy(col("doc_id")),
    Some(
      s"""WITH RECURSIVE ${TextOps.lshCandCte},
         |$ccCte
         |SELECT doc AS doc_id, cluster,
         |       count(*) OVER (PARTITION BY cluster) AS cluster_size
         |FROM cc ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------- CC stress: chain

  /** Bucket width of the synthetic chain graph: consecutive doc_ids within
    * a width-[[ChainBucket]] id bucket are linked, so every bucket is a path
    * component of diameter ~[[ChainBucket]]-1 at any SF — a FIXED-diameter
    * stressor whose round count should not drift with corpus size. */
  private[graft] val ChainBucket = 1000

  /** The high-diameter regime [[connectedComponents]]' oracle gate never
    * sees: LSH candidate graphs are dense ~diameter-2 clusters, so the
    * pointer-jumping machinery (the part that makes the loop O(log d)
    * instead of O(d)) is only lightly exercised there. This builds a
    * synthetic chain over the corpus doc_ids — an edge (i, i+1) whenever
    * both ids exist and they share a [[ChainBucket]] bucket — and resolves
    * it, returning the labeling AND the round count so InvariantCheck can
    * pin rounds ≤ ⌈log₂ diameter⌉ + slack. Shared by `q_cc_chain` (the
    * oracle-gated query and bench extra). */
  private[graft] def chainClustersWithRounds(
      s: SparkSession, d: String): (DataFrame, Int) = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val nxt = docs.select((col("doc_id") - 1).as("src"))
    val fwd = docs.select(col("doc_id").as("src")).join(nxt, Seq("src"))
      .filter(pmod(col("src"), lit(ChainBucket)) =!= lit(ChainBucket - 1))
    val edges = fwd.select(col("src"), (col("src") + 1).as("dst"))
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    connectedComponentsWithRounds(docs, sym, maxRounds = 32)
  }

  /** Connected components on the synthetic high-diameter chain graph,
    * value-gated per document: consecutive-id runs within a bucket ARE the
    * components, so the oracle computes the exact labeling with one window
    * pass (run detection via lag + cumulative sum) — no recursion needed,
    * and correct even if the id space had gaps. */
  private val qCcChain = Q(
    "q_cc_chain",
    (s, d) => chainClustersWithRounds(s, d)._1
      .withColumnRenamed("label", "cluster")
      .orderBy(col("doc_id")),
    Some(
      s"""WITH r AS (
         |  SELECT doc_id,
         |         CASE WHEN lag(doc_id) OVER (ORDER BY doc_id) = doc_id - 1
         |                   AND doc_id % $ChainBucket <> 0
         |              THEN 0 ELSE 1 END AS brk
         |  FROM documents
         |),
         |g AS (SELECT doc_id, sum(brk) OVER (ORDER BY doc_id) AS grp FROM r)
         |SELECT doc_id, min(doc_id) OVER (PARTITION BY grp) AS cluster
         |FROM g ORDER BY doc_id""".stripMargin))

  /** Cluster keep-BEST policy: real curation keeps the highest-quality
    * member of each duplicate cluster, not the smallest id — here "best" is
    * the longest document (`n_chars` desc, doc_id the deterministic
    * tiebreak). One row_number window partitioned by cluster id; at scale a
    * single shuffle on the cluster key over (doc_id, cluster, n_chars)
    * triples. */
  private val qDupKeepBest = Q(
    "q_dup_keep_best",
    (s, d) => docClusters(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("label").as("cluster"), col("n_chars"))
      .orderBy(col("doc_id")),
    Some(
      s"""WITH RECURSIVE ${TextOps.lshCandCte},
         |$ccCte
         |SELECT doc_id, cluster, n_chars FROM (
         |  SELECT d.doc_id, cc.cluster, d.n_chars,
         |         row_number() OVER (PARTITION BY cc.cluster
         |           ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM cc JOIN documents d ON d.doc_id = cc.doc
         |) WHERE rk = 1 ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------- repetition

  /** Per-doc repetition stats — `(doc_id, n_words, dup_word_frac,
    * top_bigram_frac)` — shared by [[qRepetitionFilter]] and the composed
    * pipeline. Two grouped aggregations keyed on doc_id — no joins wider
    * than the corpus, map-side partial aggregation on both.
    *
    * Docs with fewer than 2 words have NO bigrams, so the bigram aggregate
    * has no row for them: the join is a LEFT join with `top_bigram_frac`
    * coalesced to 0.0, so sub-bigram docs pass the bigram gate vacuously —
    * the same verdict [[statelessGate]] (which never computes bigrams)
    * reaches for them. An inner join here would silently reject short docs
    * in the batch pipeline while the streaming gate kept them. */
  private def repetitionStats(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val n = size(words)
    val base = docs.select(
      col("doc_id"),
      n.cast("long").as("n_words"),
      round(lit(1.0) - size(array_distinct(words)).cast("double") / n, 6)
        .as("dup_word_frac"))
    val bigrams = docs
      .select(col("doc_id"), explode(
        zip_with(slice(words, lit(1), n - 1), slice(words, lit(2), n - 1),
          (a, b) => concat(a, lit(" "), b))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bg"), sum(col("c")).as("n_bg"))
      .select(col("doc_id"),
        round(col("top_bg").cast("double") / col("n_bg"), 6)
          .as("top_bigram_frac"))
    base.join(bigrams, Seq("doc_id"), "left")
      .withColumn("top_bigram_frac", coalesce(col("top_bigram_frac"), lit(0.0)))
  }

  /** DuckDB twin of [[repetitionStats]] minus the `ws` word-split CTE (so it
    * can compose with [[TextOps.lshCandCte]], whose shingle chain defines an
    * identical `ws`): CTEs m/bg/bc/bt over `ws(doc_id, words)`, terminal
    * relation `m LEFT JOIN bt USING (doc_id)` with `top_bigram_frac`
    * coalesced to 0.0 (sub-bigram docs have no `bt` row — see
    * [[repetitionStats]]). */
  private val repetitionCteBody: String =
    """m AS (
      |  SELECT doc_id, len(words) AS n_words,
      |         round(1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6)
      |           AS dup_word_frac
      |  FROM ws
      |),
      |bg AS (
      |  SELECT doc_id,
      |         unnest(list_transform(generate_series(1, len(words) - 1),
      |           i -> words[i] || ' ' || words[i+1])) AS b
      |  FROM ws
      |),
      |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
      |bt AS (
      |  SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
      |  FROM bc GROUP BY doc_id
      |)""".stripMargin

  private val repetitionCte: String =
    s"""ws AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |$repetitionCteBody""".stripMargin

  /** Gopher repetition-gate caps (Rae et al. 2021 §A1.1): ONE definition
    * interpolated into every Scala predicate AND SQL oracle twin that
    * applies the gate — the batch filter, the stateless/streaming gate,
    * the composed pipeline, and the health panel's keep_rate — so a
    * threshold change cannot silently desynchronize the rungs. */
  private[graft] val DupWordCap = 0.6
  private[graft] val TopBigramCap = 0.1

  /** Gopher-style repetition filters (Rae et al. 2021 §A1.1 shape): per-doc
    * duplicate-word fraction and top-bigram fraction, with pass/fail flags at
    * fixed thresholds. */
  private val qRepetitionFilter = Q(
    "q_repetition_filter",
    (s, d) => repetitionStats(Tables.documents(s, d))
      .withColumn("keep",
        col("dup_word_frac") <= DupWordCap &&
          col("top_bigram_frac") <= TopBigramCap)
      .orderBy(col("doc_id")),
    Some(
      s"""WITH $repetitionCte
         |SELECT doc_id, n_words, dup_word_frac,
         |       coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
         |       dup_word_frac <= $DupWordCap
         |         AND coalesce(top_bigram_frac, 0.0) <= $TopBigramCap AS keep
         |FROM m LEFT JOIN bt USING (doc_id)
         |ORDER BY doc_id""".stripMargin))

  // -------------------------------------------------------------------- PII

  private val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhonePat = "\\+1-555-[0-9]{4}"

  /** Deterministic PII fixture: the synthetic corpus carries no PII, so both
    * engines plant identifiers derived from doc_id (the operator under test
    * is the scrub, the planted text is the fixture, like the media decode
    * stand-in). */
  private def plantedCol: Column = concat(col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@example.com or call +1-555-"),
    lpad((col("doc_id") % 10000).cast("string"), 4, "0"))

  private val plantedSql: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
      " || '@example.com or call +1-555-'" +
      " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"

  /** Regex redaction of emails/phone numbers — pure codegen'd regexp
    * built-ins, a map-only pass at any scale. */
  private def scrubCol(planted: Column): Column = regexp_replace(
    regexp_replace(planted, lit(EmailPat), lit("<EMAIL>")),
    lit(PhonePat), lit("<PHONE>"))

  private def scrubSql(planted: String): String =
    s"regexp_replace(regexp_replace($planted, '$EmailPat', '<EMAIL>', 'g'), " +
      s"'$PhonePat', '<PHONE>', 'g')"

  /** PII scrubbing: redaction with per-doc counts and a residue check. */
  private val qPiiScrub = Q(
    "q_pii_scrub",
    (s, d) => {
      val planted = plantedCol
      val scrubbed = scrubCol(planted)
      Tables.documents(s, d).select(
        col("doc_id"),
        regexp_count(planted, lit(EmailPat)).cast("long").as("n_emails"),
        regexp_count(planted, lit(PhonePat)).cast("long").as("n_phones"),
        length(scrubbed).cast("long").as("scrubbed_len"),
        (!(regexp_like(scrubbed, lit(EmailPat)) ||
          regexp_like(scrubbed, lit(PhonePat)))).as("clean"))
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH p AS (
         |  SELECT doc_id, $plantedSql AS planted FROM documents
         |),
         |sc AS (
         |  SELECT doc_id, planted, ${scrubSql("planted")} AS scrubbed FROM p
         |)
         |SELECT doc_id,
         |       len(regexp_extract_all(planted, '$EmailPat')) AS n_emails,
         |       len(regexp_extract_all(planted, '$PhonePat')) AS n_phones,
         |       length(scrubbed) AS scrubbed_len,
         |       NOT (regexp_matches(scrubbed, '$EmailPat')
         |            OR regexp_matches(scrubbed, '$PhonePat')) AS clean
         |FROM sc ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------------ split

  /** Deterministic 80/10/10 bucket label for a doc_id: bucket = hash mod 10,
    * so membership is a pure function of the key — reproducible across runs,
    * engines, and scale, with no RNG state to coordinate across 1000
    * executors (the reason hash splits, not `rand()`, are how training
    * pipelines split corpora). */
  private[graft] def splitCol: Column = {
    val bucket =
      TextOps.hash32(concat(lit("split:"), col("doc_id").cast("string"))) % 10
    when(bucket < 8, lit("train"))
      .when(bucket === 8, lit("val"))
      .otherwise(lit("test"))
  }

  private val splitSql: String = {
    val h = TextOps.hash32Sql("'split:' || CAST(doc_id AS VARCHAR)")
    s"CASE WHEN $h % 10 < 8 THEN 'train' " +
      s"WHEN $h % 10 = 8 THEN 'val' ELSE 'test' END"
  }

  /** Deterministic hash-based train/val/test split with per-split volume
    * accounting. */
  private val qHashSplit = Q(
    "q_hash_split",
    (s, d) => {
      Tables.documents(s, d)
        .withColumn("split", splitCol)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("pct", round(
          col("n_docs") / sum(col("n_docs")).over(Window.partitionBy()), 6))
        .orderBy(col("split"))
    },
    Some {
      val h = TextOps.hash32Sql("'split:' || CAST(doc_id AS VARCHAR)")
      s"""WITH b AS (
         |  SELECT doc_id, n_chars, $h % 10 AS bucket FROM documents
         |),
         |agg AS (
         |  SELECT CASE WHEN bucket < 8 THEN 'train'
         |              WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
         |         count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM b GROUP BY 1
         |)
         |SELECT split, n_docs, sum_chars,
         |       round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS pct
         |FROM agg ORDER BY split""".stripMargin
    })

  // -------------------------------------------------------------- quantiles

  /** Distribution sketch gate: exact percentiles per source (Spark
    * `percentile` = continuous interpolation, DuckDB `quantile_cont`) plus a
    * pinned within-5% check of `percentile_approx` — the sketch that replaces
    * the exact sort at 100 TB — against the exact value. Same self-verifying
    * pattern as `q_approx_distinct`. */
  private val qQuantileGate = Q(
    "q_quantile_gate",
    (s, d) => Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(
        round(expr("percentile(n_chars, 0.5D)"), 6).as("p50"),
        round(expr("percentile(n_chars, 0.9D)"), 6).as("p90"),
        expr("approx_percentile(n_chars, 0.5D, 10000)").as("p50a"))
      .withColumn("approx_ok",
        abs(col("p50a") - col("p50")) <= greatest(col("p50") * 0.05, lit(1.0)))
      .select(col("source"), col("p50"), col("p90"), col("approx_ok"))
      .orderBy(col("source")),
    Some(
      // the oracle COMPUTES approx_ok with its own sketch (DuckDB
      // approx_quantile) against its own exact quantile — both engines must
      // independently land their sketches within the 5% bound for the row
      // hashes to match; a hardcoded TRUE would only re-check Spark's claim
      """SELECT source,
        |       round(quantile_cont(n_chars, 0.5), 6) AS p50,
        |       round(quantile_cont(n_chars, 0.9), 6) AS p90,
        |       abs(approx_quantile(n_chars, 0.5) - quantile_cont(n_chars, 0.5))
        |         <= greatest(quantile_cont(n_chars, 0.5) * 0.05, 1.0) AS approx_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  // ---------------------------------------------------------- heavy hitters

  /** Heavy-hitter vocabulary: global top-20 terms by total frequency with
    * document frequency — the classic skewed aggregation; both counts are
    * algebraic so the explode never leaves the map side un-combined, and the
    * distinct-doc count aggregates (term, doc) pairs before the final merge. */
  private val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("n").desc, col("term"))
      .limit(20),
    Some(
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |)
        |SELECT term, count(*) AS n, count(DISTINCT doc_id) AS df
        |FROM t GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin))

  // -------------------------------------------------------- unigram logprob

  /** Unigram log-probability quality score — the shape of CCNet-style
    * perplexity filtering with the corpus's own unigram distribution standing
    * in for the external LM (no model files in this sandbox; swapping in a
    * real LM table changes only the vocab source): score every document by
    * the mean ln p(word), where p = count(word)/total. Low scores mark
    * gibberish/rare-token documents, the classic quality-filter signal.
    *
    * Scale shape: the token explode is aggregated to per-doc term counts
    * `(doc_id, w, c_dw)` BEFORE anything joins — the vocab join then
    * shuffles distinct (doc, term) rows, not every token occurrence (2-5×
    * smaller on natural text, and the per-key skew the stop words cause has
    * proportionally less volume for AQE to split). The vocabulary and the
    * corpus total both derive from the same term-count aggregate (Catalyst
    * reuses the exchange), the total is a single broadcast row (same
    * pattern as the BM25 stats), and the per-doc score is the weighted mean
    * Σ c_dw·ln p(w) / Σ c_dw — algebraically identical to the token-level
    * mean ln p. PlanGuardSpec pins that no raw explode reaches a join. */
  private val qUnigramLogprob = Q(
    "q_unigram_logprob",
    (s, d) => {
      val tc = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c_dw"))
      val vocab = tc.groupBy(col("w")).agg(sum(col("c_dw")).as("c"))
      val tot = tc.agg(sum(col("c_dw")).cast("double").as("n_total"))
      tc.join(vocab, Seq("w"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(
          round(
            sum(col("c_dw") * log(col("c").cast("double") / col("n_total"))) /
              sum(col("c_dw")), 6).as("avg_logp"),
          sum(col("c_dw")).as("n_words"))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tc AS (SELECT doc_id, w, count(*) AS c_dw FROM wd GROUP BY 1, 2),
        |v AS (SELECT w, CAST(sum(c_dw) AS BIGINT) AS c FROM tc GROUP BY w),
        |t AS (SELECT CAST(sum(c_dw) AS DOUBLE) AS n_total FROM tc)
        |SELECT doc_id,
        |       round(sum(c_dw * ln(CAST(c AS DOUBLE) / n_total))
        |             / sum(c_dw), 6) AS avg_logp,
        |       CAST(sum(c_dw) AS BIGINT) AS n_words
        |FROM tc JOIN v USING (w) CROSS JOIN t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------------- BM25

  private val Bm25Terms = Seq("spark", "customer", "vector")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** BM25 keyword relevance (Robertson/Spärck Jones; the lexical leg of the
    * reference's hybrid search modes): per-term tf via word-boundary
    * regexp_count, df/avgdl corpus statistics in one aggregate, score =
    * Σ idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)). The stats side is a single
    * broadcast row (bounded — see PlanGuardSpec allowlist); everything else
    * is a map-only pass over the corpus. */
  private val qBm25 = Q(
    "q_bm25",
    (s, d) => {
      val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
        regexp_count(col("text"), lit(s"\\b$t\\b")).cast("double").as(s"tf$i")
      }
      val base = Tables.documents(s, d).select(
        col("doc_id") +: size(split(col("text"), " ")).cast("double").as("dl")
          +: tfCols: _*)
      val statAggs = avg(col("dl")).as("avgdl") ::
        count(lit(1)).cast("double").as("n_docs") ::
        Bm25Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i")).toList
      val stats = base.agg(statAggs.head, statAggs.tail: _*)
      val score = Bm25Terms.indices.map { i =>
        val idf = log(lit(1.0) +
          (col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
        idf * col(s"tf$i") * (Bm25K1 + 1.0) /
          (col(s"tf$i") +
            lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
      }.reduce(_ + _)
      base.crossJoin(broadcast(stats))
        .select(col("doc_id"), round(score, 6).as("bm25"))
        .filter(col("bm25") > 0)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
    },
    Some {
      val tfSel = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"len(regexp_extract_all(text, '\\b$t\\b')) AS tf$i"
      }.mkString(", ")
      val dfSel = Bm25Terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1.0 ELSE 0.0 END) AS df$i").mkString(", ")
      val score = Bm25Terms.indices.map { i =>
        s"ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) * tf$i * ${Bm25K1 + 1.0} " +
          s"/ (tf$i + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl))"
      }.mkString(" + ")
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl, $tfSel
         |  FROM documents
         |),
         |stats AS (
         |  SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs, $dfSel
         |  FROM base
         |)
         |SELECT doc_id, round($score, 6) AS bm25
         |FROM base CROSS JOIN stats
         |WHERE round($score, 6) > 0
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
    })

  // -------------------------------------------------------- decontamination

  /** N-gram size for benchmark-overlap decontamination. Production pipelines
    * use 13 (GPT-3/The Pile convention); the fixture corpus is 10-99-word
    * docs with overlap only at 4-grams, so the gate runs the identical
    * operator shape at n=4. [[qDecontaminateExt]] runs the production n=13
    * against a genuinely external eval-set table. */
  private val DecontamGram = 4

  /** Distinct word n-grams of a pre-projected word array — projected ONCE
    * before the lambda (a lambda over the raw `split` expression would
    * re-split per element: the O(words²) trap documented in TextOps). */
  private[graft] def gramCol(w: Column, n: Int): Column =
    array_distinct(transform(sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", slice(w, i, lit(n)))))

  /** DuckDB twin of [[gramCol]] over a `words` list column. */
  private def gramSql(n: Int): String =
    s"list_transform(generate_series(1, len(words) - ${n - 1}), " +
      s"i -> list_aggregate(words[i:i+${n - 1}], 'string_agg', ' '))"

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with a benchmark/eval set — the overlap-removal step run before
    * training so test data cannot leak into the corpus. The benchmark here
    * is the deterministic fixture `doc_id % 100 = 0` (a stand-in for the
    * external eval suite; benchmark members self-flag with `is_bench`).
    *
    * Scale shape: benchmark n-gram sets are small by construction (eval
    * suites are tiny next to a corpus), so the contamination join is a
    * BROADCAST semi-join against the corpus-side n-gram explode — map-only
    * per corpus split, no corpus-wide shuffle. Grams are deduped per doc
    * BEFORE the explode (`array_distinct`) so hit counts are distinct-gram
    * counts and the explode volume is bounded. The word array is projected
    * ONCE before the lambda (a lambda over the raw `split` expression would
    * re-split per element — the O(words²) trap documented in TextOps). */
  /** Corpus-side distinct n-grams and the self-derived benchmark gram set
    * (`doc_id % 100 = 0` fixture) — shared by [[qDecontaminate]] and the
    * composed pipeline's decontamination stage. */
  private def decontamFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val wdocs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= DecontamGram)
    val grams = wdocs.select(col("doc_id"),
      explode(gramCol(col("w"), DecontamGram)).as("gram"))
    val bench = grams.filter(col("doc_id") % 100 === 0)
      .select(col("gram")).distinct()
    (grams, bench)
  }

  /** Doc ids overlapping the benchmark gram set (broadcast semi-join) —
    * the removal set of the pipeline's decontamination stage. */
  private def contaminatedIds(s: SparkSession, d: String): DataFrame = {
    val (grams, bench) = decontamFrames(s, d)
    grams.join(broadcast(bench), Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** DuckDB twin of [[contaminatedIds]] as CTEs over the shared
    * `ws(doc_id, words)` word-split CTE (defined by the LSH chain when
    * composing): `dg`/`dbench`/`contam(doc_id)`. */
  private val contamCte: String =
    s"""dg AS (
       |  SELECT DISTINCT doc_id, unnest(${gramSql(DecontamGram)}) AS gram
       |  FROM ws WHERE len(words) >= $DecontamGram
       |),
       |dbench AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 100 = 0),
       |contam AS (SELECT DISTINCT dg.doc_id FROM dg JOIN dbench USING (gram))""".stripMargin

  private val qDecontaminate = Q(
    "q_decontaminate",
    (s, d) => {
      val (grams, bench) = decontamFrames(s, d)
      grams.join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .withColumn("is_bench", col("doc_id") % 100 === 0)
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(
         |           generate_series(1, len(words) - ${DecontamGram - 1}),
         |           i -> list_aggregate(words[i:i+${DecontamGram - 1}],
         |                               'string_agg', ' '))) AS gram
         |  FROM ws WHERE len(words) >= $DecontamGram
         |),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0)
         |SELECT doc_id, count(*) AS n_hits, doc_id % 100 = 0 AS is_bench
         |FROM g JOIN bench USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Production n-gram width for [[qDecontaminateExt]]. */
  private[graft] val DecontamGramExt = 13

  /** The external eval-set fixture (written once by
    * `graft.tools.MakeFixtures`, committed with the repo): a handful of
    * eval documents whose text overlaps the sf0.01 corpus, so contamination
    * exists to find. Resolution order: GRAFT_FIXTURES_DIR override, then
    * `fixtures/` under the working directory (sbt and the spark-submit
    * mains all run from the repo root — no machine-specific absolute path
    * baked in). The DuckDB oracle embeds the SAME resolved path
    * (single-quote-escaped), so both engines always read one fixture. */
  private[graft] val EvalSetPath: String =
    sys.env.get("GRAFT_FIXTURES_DIR")
      .getOrElse(new java.io.File("fixtures").getAbsolutePath) +
      "/evalset.parquet"

  /** [[EvalSetPath]] as a safe SQL string literal body. */
  private val evalSetPathSql: String = EvalSetPath.replace("'", "''")

  /** Distinct [[DecontamGramExt]]-grams of the external eval suite — the
    * decontamination REFERENCE SET, shared by the batch gate
    * ([[qDecontaminateExt]]'s broadcast side) and the streaming gate's
    * collected literal (`CorpusStream.benchGrams`) so the two rungs can
    * never drift in how they derive it. */
  private[graft] def evalGrams(s: SparkSession,
      evalPath: String = EvalSetPath): DataFrame =
    s.read.parquet(evalPath)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= DecontamGramExt)
      .select(explode(gramCol(col("w"), DecontamGramExt)).as("gram"))
      .distinct()

  /** Decontamination at PRODUCTION shape: 13-gram overlap (GPT-3/The Pile
    * convention) against a genuinely external eval-set table — the separate
    * broadcast side a real decontamination run has, where [[qDecontaminate]]
    * self-derives its benchmark from the corpus. The eval set reads from its
    * own parquet fixture; the corpus side is the same distinct-gram explode.
    *
    * Scale shape: identical to [[qDecontaminate]] — eval suites are tiny
    * next to a corpus, so the gram join is a BROADCAST semi-join against
    * the corpus-side explode (PlanGuardSpec pins it), map-only per corpus
    * split, no corpus-wide shuffle. */
  private val qDecontaminateExt = Q(
    "q_decontaminate_ext",
    (s, d) => {
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= DecontamGramExt)
        .select(col("doc_id"),
          explode(gramCol(col("w"), DecontamGramExt)).as("gram"))
      val bench = evalGrams(s)
      grams.join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id, unnest(${gramSql(DecontamGramExt)}) AS gram
         |  FROM ws WHERE len(words) >= $DecontamGramExt
         |),
         |ev AS (SELECT string_split(text, ' ') AS words
         |       FROM read_parquet('$evalSetPathSql/*.parquet')),
         |bench AS (
         |  SELECT DISTINCT unnest(${gramSql(DecontamGramExt)}) AS gram
         |  FROM ev WHERE len(words) >= $DecontamGramExt
         |)
         |SELECT doc_id, count(*) AS n_hits
         |FROM g JOIN bench USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------ domain mix

  /** Domain mixing: deterministic hash-based downsampling to per-source
    * target rates — the mixture-reweighting step of corpus assembly (e.g.
    * upweight curated sources, downweight crawl). The target rate is a pure
    * function of the source name here (stand-in for the curated weights
    * table a real run would broadcast); KEEP membership is hash-keyed on
    * doc_id, so the sample is bit-reproducible on any cluster with no RNG
    * state to coordinate — same reason as the hash split. Map-only pass +
    * per-source algebraic aggregate; weight is emitted as the raw double
    * division so both engines produce bit-identical values. */
  /** Per-source target keep rate in percent (1-100): pure function of the
    * source name — stand-in for a broadcast curated-weights table. */
  private[graft] def mixRate: Column =
    TextOps.hash32(concat(lit("mix:"), col("source"))) % 100 + 1

  /** Deterministic KEEP membership for domain mixing: hash-keyed on doc_id
    * so the sample is bit-reproducible on any cluster — CorpusLaws property-
    * tests that the empirical keep rate converges to `mixRate`/100. */
  private[graft] def mixKept: Column =
    TextOps.hash32(concat(lit("samp:"), col("doc_id").cast("string"))) %
      1000000 < mixRate * 10000

  private val qDomainMix = Q(
    "q_domain_mix",
    (s, d) => {
      val srcRate = mixRate
      Tables.documents(s, d)
        .withColumn("kept", mixKept)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("weight", srcRate.cast("double") / 100.0)
        .select(col("source"), col("weight"), col("n_docs"), col("n_kept"))
        .orderBy(col("source"))
    },
    Some {
      val hMix = TextOps.hash32Sql("'mix:' || source")
      val hSamp = TextOps.hash32Sql("'samp:' || CAST(doc_id AS VARCHAR)")
      s"""WITH k AS (
         |  SELECT source,
         |         $hSamp % 1000000 < ($hMix % 100 + 1) * 10000 AS kept
         |  FROM documents
         |)
         |SELECT source,
         |       CAST($hMix % 100 + 1 AS DOUBLE) / 100.0 AS weight,
         |       count(*) AS n_docs,
         |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM k GROUP BY source ORDER BY source""".stripMargin
    })

  // ------------------------------------------------------- sequence packing

  /** Training-sequence token budget (the model's context length). */
  private[graft] val PackBudget = 2048

  /** Shard-count FLOOR for parallel packing: each shard packs
    * independently, so the per-shard ordered window never needs a global
    * sort. 32 = one per local core; the actual count is derived from the
    * corpus by [[packShardCount]] so it GROWS with the data. */
  private[graft] val PackShards = 32

  /** Target token mass per pack shard (64M ≈ 0.5 GiB of (id, toks) state
    * plus the text that streams through one task's window sort — sized so a
    * shard always fits one task). The derived shard count is
    * max([[PackShards]], ⌈Σ est_tokens / target⌉): at test SFs the floor
    * wins (shards = 32, every plan unchanged); at 100 TB (~25T est tokens)
    * it derives ~400k shards — the same derived-from-the-data scaling the
    * IVF quantizer's k uses, with no config to forget. Derivation always
    * uses the chars/4 estimate (even under a swapped tokenizer): the shard
    * count is a parallelism knob, not a semantic, and keeping it
    * tokenizer-independent means both engines agree on it by construction. */
  private[graft] val TargetShardTokens = 64L * 1024 * 1024

  /** Singleton (n_shards) frame: broadcast-crossJoined into the pack
    * projections — zero driver actions, mirrored in SQL by a scalar
    * subquery over the same sum. */
  private def packShardCount(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.agg(sum(estToks).as("ptt"))
      .select(greatest(lit(PackShards.toLong),
        expr(s"(ptt + ${TargetShardTokens - 1L}) div $TargetShardTokens"))
        .as("n_shards"))

  /** `n_shards` as a DuckDB scalar subquery (the SQL twin of
    * [[packShardCount]] — exact integer arithmetic in both engines). */
  private def packShardCountSql: String =
    s"(SELECT greatest($PackShards, (CAST(sum($estToksSql) AS BIGINT) + " +
      s"${TargetShardTokens - 1L}) // $TargetShardTokens) FROM documents)"

  /** The default packing token count: the chars/4 estimate (`q_token_count`'s
    * `est_tokens`). [[bpeToks]] is the swappable real-tokenizer stand-in. */
  private def estToks: Column = ceil(col("n_chars") / 4.0).cast("long")
  private val estToksSql = "CAST(ceil(n_chars / 4.0) AS BIGINT)"

  /** The BPE-ish regex token count (`q_token_count`'s `bpe_tokens`) —
    * `q_seq_pack_tok` swaps it into the packing layer to prove the count
    * column is a PARAMETER of the pack, not a hardcode. */
  private def bpeToks: Column =
    regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long")
  private val bpeToksSql =
    """CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)"""

  /** Sequence packing — the concat-and-chunk step that turns a document
    * corpus into fixed-length training sequences: documents are concatenated
    * in a deterministic order and chunked every [[PackBudget]] tokens; each
    * document is assigned the pack (sequence index) where its first token
    * lands, plus its offset inside that pack. This is the standard
    * "packed dataset" layout (GPT-style pretraining); downstream, a reader
    * turns each pack into one training example.
    *
    * Scale shape: documents are hash-sharded ([[TextOps.hash32]] on the doc
    * id — deterministic, no RNG state), and the only non-map operation is a
    * per-shard running sum — a window partitioned BY SHARD, so each shard
    * sorts only its own slice and shards pack in parallel; there is no
    * global sort and no driver state. The token count is a swap point
    * ([[packAssignments]]' `toks` parameter): `q_seq_pack` packs on the
    * chars/4 estimate, `q_seq_pack_tok` on the BPE-ish regex count. */
  private val qSeqPack = Q(
    "q_seq_pack",
    (s, d) => packAssignments(s, d).orderBy(col("doc_id")),
    Some(
      s"""WITH ${packSql()}
         |SELECT doc_id, shard, toks, pack_id, start_off
         |FROM packed ORDER BY doc_id""".stripMargin))

  /** [[qSeqPack]] with the BPE-ish regex token counter swapped in — same
    * pack shape, different `toks` column, exercising the tokenizer swap
    * point end to end (both engines re-derive every assignment under the
    * new counts). */
  private val qSeqPackTok = Q(
    "q_seq_pack_tok",
    (s, d) => packAssignments(s, d, bpeToks).orderBy(col("doc_id")),
    Some(
      s"""WITH ${packSql(bpeToksSql)}
         |SELECT doc_id, shard, toks, pack_id, start_off
         |FROM packed ORDER BY doc_id""".stripMargin))

  /** The shared packing projection behind [[qSeqPack]] and the manifest.
    * `pack_id` uses integral floor division (`div`), NOT double division —
    * `/` agrees with the oracle's `//` only while per-shard cumulative
    * token counts stay below 2^53; `div` makes engine/oracle parity
    * unconditional. */
  private def packAssignments(s: SparkSession, d: String,
      toks: Column = estToks): DataFrame = {
    val docs = Tables.documents(s, d)
    val shard =
      TextOps.hash32(concat(lit("pack:"), col("doc_id").cast("string"))) %
        col("n_shards")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    docs.crossJoin(broadcast(packShardCount(docs)))
      .select(col("doc_id"), toks.as("toks"), shard.as("shard"))
      .withColumn("cum", sum(col("toks")).over(w))
      .select(col("doc_id"), col("shard"), col("toks"),
        expr(s"(cum - toks) div $PackBudget").as("pack_id"),
        pmod(col("cum") - col("toks"), lit(PackBudget.toLong))
          .as("start_off"))
  }

  private def packSql(toksSql: String = estToksSql): String = {
    val h = TextOps.hash32Sql("'pack:' || CAST(doc_id AS VARCHAR)")
    s"""t AS (
       |  SELECT doc_id,
       |         $toksSql AS toks,
       |         $h % $packShardCountSql AS shard
       |  FROM documents
       |),
       |c AS (
       |  SELECT doc_id, shard, toks,
       |         CAST(sum(toks) OVER (PARTITION BY shard ORDER BY doc_id)
       |              AS BIGINT) AS cum
       |  FROM t
       |),
       |packed AS (
       |  SELECT doc_id, shard, toks,
       |         (cum - toks) // $PackBudget AS pack_id,
       |         (cum - toks) % $PackBudget AS start_off
       |  FROM c
       |)""".stripMargin
  }

  /** First-fit-decreasing bin packing per shard — the POLICY twin of the
    * concat-and-chunk pack for the no-document-crossing regime (each doc
    * lands wholly in one pack; packs may be underfull; an oversize doc gets
    * its own pack): within a shard, docs are taken longest-first
    * (deterministic `(toks desc, doc_id)` order) and each goes to the FIRST
    * open pack with room, else opens a new one. FFD is inherently
    * sequential per shard (each placement depends on all previous bin
    * states), so the shard is the parallel unit — `flatMapGroups` over the
    * hash-sharded corpus, the typed-Dataset analogue of the window the
    * concat pack uses, with per-task state bounded by the shard: the
    * derived shard count ([[packShardCount]]) caps a shard at
    * ~[[TargetShardTokens]] tokens, i.e. the in-task (id, toks) array and
    * bin list stay well under 0.5 GiB per task at ANY corpus size — the
    * per-task memory is a constant of the config, not a function of the
    * corpus. The in-task first-fit scan is O(docs·bins) per shard; a
    * capacity-indexed tree drops that to O(docs·log bins) if shards ever
    * get huge — the distributed shape is unchanged.
    *
    * Value-gated doc-by-doc: the DuckDB oracle REPLAYS the same greedy
    * process with a recursive CTE carrying each shard's open-bin capacity
    * list, one document per recursion step. */
  private[graft] def ffdAssignments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val shard =
      TextOps.hash32(concat(lit("pack:"), col("doc_id").cast("string"))) %
        col("n_shards")
    val base = docs.crossJoin(broadcast(packShardCount(docs)))
      .select(col("doc_id"), estToks.as("toks"), shard.as("shard"))
      .as[(Long, Long, Long)]
    base.groupByKey(_._3).flatMapGroups { (sh: Long, it: Iterator[(Long, Long, Long)]) =>
      val docs = it.map { case (id, tk, _) => (id, tk) }.toArray
        .sortBy { case (id, tk) => (-tk, id) }
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      docs.iterator.map { case (id, tk) =>
        var i = 0
        while (i < bins.length && bins(i) < tk) i += 1
        if (i == bins.length) bins += PackBudget.toLong - tk
        else bins(i) -= tk
        (id, sh, tk, i.toLong)
      }
    }.toDF("doc_id", "shard", "toks", "pack_id")
  }

  /** DuckDB replay of [[ffdAssignments]]: `fr` ranks each shard's docs in
    * the FFD order; the recursive `ffd` carries the open-bin remaining-
    * capacity list per shard and places one doc per step (first index with
    * room, else append). Ends in `ffd(shard, rn, doc_id, toks, pack_id)`. */
  private def ffdSql: String = {
    val h = TextOps.hash32Sql("'pack:' || CAST(doc_id AS VARCHAR)")
    // first open-bin index with capacity for t.toks (NULL = none fits)
    val fit = "list_filter(generate_series(1, len(p.bins)), " +
      "i -> p.bins[i] >= t.toks)[1]"
    s"""ft AS (
       |  SELECT doc_id, $estToksSql AS toks, $h % $packShardCountSql AS shard
       |  FROM documents
       |),
       |fr AS (
       |  SELECT doc_id, toks, shard,
       |         row_number() OVER (PARTITION BY shard
       |                            ORDER BY toks DESC, doc_id) AS rn
       |  FROM ft
       |),
       |ffd AS (
       |  SELECT shard, rn, doc_id, toks, CAST(0 AS BIGINT) AS pack_id,
       |         [CAST($PackBudget AS BIGINT) - toks] AS bins
       |  FROM fr WHERE rn = 1
       |  UNION ALL
       |  SELECT t.shard, t.rn, t.doc_id, t.toks,
       |         CASE WHEN $fit IS NULL THEN CAST(len(p.bins) AS BIGINT)
       |              ELSE CAST($fit - 1 AS BIGINT) END,
       |         CASE WHEN $fit IS NULL
       |              THEN list_append(p.bins,
       |                     CAST($PackBudget AS BIGINT) - t.toks)
       |              ELSE list_transform(generate_series(1, len(p.bins)),
       |                     i -> CASE WHEN i = $fit
       |                               THEN p.bins[i] - t.toks
       |                               ELSE p.bins[i] END)
       |         END
       |  FROM ffd p JOIN fr t ON t.shard = p.shard AND t.rn = p.rn + 1
       |)""".stripMargin
  }

  private val qSeqPackFfd = Q(
    "q_seq_pack_ffd",
    (s, d) => ffdAssignments(s, d).orderBy(col("doc_id")),
    Some(
      s"""WITH RECURSIVE $ffdSql
         |SELECT doc_id, shard, toks, pack_id
         |FROM ffd ORDER BY doc_id""".stripMargin))

  /** Fill-rate comparison panel across packing policies — the curation
    * metric that decides the policy trade: concat-and-chunk packs to 100%
    * by construction (docs cross pack boundaries; pack count per shard is
    * ⌈Σtoks/budget⌉), FFD trades fill for doc integrity. One aggregate per
    * policy, both shard-keyed then reduced to one row each. `max_pack_toks`
    * makes the panel itself the overfull-bin alarm (no reliance on
    * InvariantCheck): concat's fullest pack is exactly the budget whenever
    * any shard holds ≥ one full pack (least(max shard mass, budget) by the
    * chunk-every-budget construction), and an FFD value ABOVE the budget in
    * this column means either a legitimate oversize single-doc pack or —
    * if the InvariantCheck multi-doc law also trips — a broken first-fit
    * scan. */
  private val qPackFill = Q(
    "q_pack_fill",
    (s, d) => {
      val cpol = packAssignments(s, d)
        .groupBy(col("shard")).agg(sum(col("toks")).as("st"))
        .agg(sum(ceil(col("st") / PackBudget.toDouble)).cast("long")
          .as("n_packs"),
          sum(col("st")).as("sum_toks"),
          least(max(col("st")), lit(PackBudget.toLong)).as("max_pack_toks"))
        .select(lit("concat").as("policy"), col("n_packs"), col("sum_toks"),
          col("max_pack_toks"))
      val fpol = ffdAssignments(s, d)
        .groupBy(col("shard"), col("pack_id")).agg(sum(col("toks")).as("pt"))
        .agg(count(lit(1)).as("n_packs"), sum(col("pt")).as("sum_toks"),
          max(col("pt")).as("max_pack_toks"))
        .select(lit("ffd").as("policy"), col("n_packs"), col("sum_toks"),
          col("max_pack_toks"))
      cpol.union(fpol)
        .withColumn("fill_rate", round(
          col("sum_toks").cast("double") / (col("n_packs") * PackBudget), 6))
        .orderBy(col("policy"))
    },
    Some(
      s"""WITH RECURSIVE ${packSql()},
         |$ffdSql,
         |cpol AS (
         |  SELECT 'concat' AS policy,
         |         CAST(sum(np) AS BIGINT) AS n_packs,
         |         CAST(sum(st) AS BIGINT) AS sum_toks,
         |         CAST(least(max(st), $PackBudget) AS BIGINT) AS max_pack_toks
         |  FROM (
         |    SELECT CAST(ceil(sum(toks) / ${PackBudget}.0) AS BIGINT) AS np,
         |           sum(toks) AS st
         |    FROM t GROUP BY shard
         |  )
         |),
         |fpol AS (
         |  SELECT 'ffd' AS policy,
         |         CAST(count(*) AS BIGINT) AS n_packs,
         |         CAST(sum(pt) AS BIGINT) AS sum_toks,
         |         CAST(max(pt) AS BIGINT) AS max_pack_toks
         |  FROM (
         |    SELECT shard, pack_id, sum(toks) AS pt
         |    FROM ffd GROUP BY shard, pack_id
         |  )
         |),
         |u AS (SELECT * FROM cpol UNION ALL SELECT * FROM fpol)
         |SELECT policy, n_packs, sum_toks, max_pack_toks,
         |       round(CAST(sum_toks AS DOUBLE) / (n_packs * $PackBudget), 6)
         |         AS fill_rate
         |FROM u ORDER BY policy""".stripMargin))

  /** The READER side of sequence packing: one row per (shard, pack) —
    * the training example — with its document manifest in concatenation
    * order, document count, and token fill. The string-joined manifest is
    * what a loader needs to assemble the example; `sum_toks` over
    * [[PackBudget]] shows boundary packs (documents crossing into the next
    * pack), which is the concat-and-chunk semantic, not an error. One
    * aggregation keyed on (shard, pack_id) — map-side combined, no wider
    * than the packed corpus. */
  private val qPackManifest = Q(
    "q_pack_manifest",
    (s, d) => packAssignments(s, d)
      .groupBy(col("shard"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("sum_toks"),
        concat_ws("|", sort_array(collect_list(col("doc_id"))))
          .as("docs"))
      .orderBy(col("shard"), col("pack_id")),
    Some(
      s"""WITH ${packSql()}
         |SELECT shard, pack_id, count(*) AS n_docs,
         |       CAST(sum(toks) AS BIGINT) AS sum_toks,
         |       string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS docs
         |FROM packed
         |GROUP BY shard, pack_id
         |ORDER BY shard, pack_id""".stripMargin))

  // ----------------------------------------------------------- corpus stats

  /** Per-source corpus health panel — the monitoring aggregate a curation
    * pipeline runs after every ingest wave: volume (docs/chars), mean doc
    * length, language share, and the repetition-gate pass rate, one row per
    * source. Pure map-side derivation + algebraic aggregates (sum/count/avg
    * all partial-aggregate), so at 100 TB this is one scan and one tiny
    * shuffle keyed on source. */
  /** The health panel's shared derivation + aggregate columns — ONE
    * definition consumed by the batch gate below (grouped by source) AND
    * the streaming panel ([[graft.streaming.CorpusStream]], grouped by
    * (window, source)), so a gate-threshold or rounding change propagates
    * to both instead of silently drifting between twins. */
  private[graft] def healthDerived(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val bg = col("__bg")
    docs
      .withColumn("n_words", size(words).cast("long"))
      .withColumn("dup_frac", round(
        lit(1.0) - size(array_distinct(words)).cast("double") / size(words),
        6))
      // top-bigram fraction in-row, same shape as [[statelessGate]] (the
      // __bg column is materialized first — a lambda over an unshared
      // zip_with would rebuild it per element, the O(w²)→O(w³) trap):
      // keep_rate must reflect the FULL repetition gate, and the
      // dup-word half alone overstates surviving volume whenever docs
      // pass the 0.6 dup cap but fail the 0.1 bigram cap
      .withColumn("__bg", zip_with(slice(words, lit(1), size(words) - 1),
        slice(words, lit(2), size(words) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .withColumn("bg_frac", when(size(bg) > 0, round(
        array_max(transform(array_distinct(bg),
          x => size(filter(bg, y => y === x)))).cast("double") / size(bg),
        6)).otherwise(lit(0.0)))
      .drop("__bg")
  }

  private[graft] def healthAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_docs"),
    sum(col("n_chars")).as("total_chars"),
    round(avg(col("n_words")), 6).as("avg_words"),
    round(avg(when(col("lang") === "en", 1.0).otherwise(0.0)), 6)
      .as("pct_en"),
    round(avg(when(col("dup_frac") <= DupWordCap &&
        col("bg_frac") <= TopBigramCap, 1.0).otherwise(0.0)), 6)
      .as("keep_rate"))

  private val qCorpusStats = Q(
    "q_corpus_stats",
    (s, d) => {
      val aggs = healthAggs
      healthDerived(Tables.documents(s, d))
        .groupBy(col("source"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy(col("source"))
    },
    Some(
      s"""WITH w AS (
         |  SELECT source, n_chars, lang, string_split(text, ' ') AS ws
         |  FROM documents
         |), b AS (
         |  SELECT source, n_chars, lang, ws,
         |         [ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))] AS bg
         |  FROM w
         |), m AS (
         |  SELECT source, n_chars, lang,
         |         len(ws) AS n_words,
         |         round(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
         |                 / len(ws), 6) AS dup_frac,
         |         CASE WHEN len(bg) > 0 THEN round(
         |           CAST(list_max(list_transform(list_distinct(bg),
         |                  x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
         |             / len(bg), 6)
         |         ELSE 0.0 END AS bg_frac
         |  FROM b
         |)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       round(avg(n_words), 6) AS avg_words,
         |       round(avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6) AS pct_en,
         |       round(avg(CASE WHEN dup_frac <= $DupWordCap
         |                       AND bg_frac <= $TopBigramCap
         |                  THEN 1.0 ELSE 0.0 END), 6) AS keep_rate
         |FROM m GROUP BY source ORDER BY source""".stripMargin))

  // --------------------------------------------------------- stateless gate

  /** The stateless corpus-prep chain — PII scrub, duplicate-word fraction,
    * top-bigram fraction, hash split — as one map-only projection,
    * enforcing the SAME Gopher gate verdict as the batch
    * [[repetitionStats]] path. Exactly these stages run UNCHANGED over a
    * Structured Streaming source (no aggregation state, no watermark
    * needed); [[graft.streaming.CorpusStream]] is that streaming twin, and
    * StreamingCorpusSpec pins stream ≡ batch AND per-row ≡ aggregate.
    *
    * The bigram fraction here is computed INSIDE the row with array
    * lambdas — O(words²) interpreted per document, bounded by document
    * length. That is the right trade for a stream gate (zero state, no
    * shuffle); the batch path keeps the codegen'd explode + partial
    * aggregation, which is the scale shape for a full-corpus pass. The
    * bigram array is projected once per stage (a lambda over an unshared
    * expression would rebuild it per element — the O(words²)→O(words³)
    * trap documented in TextOps). */
  def statelessGate(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val bg = col("__bg")
    val topBigramFrac = when(size(bg) > 0, round(
      array_max(transform(array_distinct(bg),
        x => size(filter(bg, y => y === x)))).cast("double") / size(bg), 6))
      .otherwise(lit(0.0))
    docs.select(
      col("doc_id"),
      splitCol.as("split"),
      length(scrubCol(col("text"))).cast("long").as("scrubbed_len"),
      round(lit(1.0) - size(array_distinct(words)).cast("double") / size(words), 6)
        .as("dup_word_frac"),
      zip_with(slice(words, lit(1), size(words) - 1),
        slice(words, lit(2), size(words) - 1),
        (a, b) => concat(a, lit(" "), b)).as("__bg"))
      .withColumn("top_bigram_frac", topBigramFrac)
      .drop("__bg")
      .withColumn("keep",
        col("dup_word_frac") <= DupWordCap &&
          col("top_bigram_frac") <= TopBigramCap)
  }

  // --------------------------------------------------------------- pipeline

  /** The full corpus-prep chain as ONE composed DataFrame pipeline — the
    * flagship of this family (the LLM-training-data brief): Gopher
    * repetition gate → benchmark decontamination (anti-join on the
    * contaminated-id set; bench-overlapping docs, including the planted
    * bench members themselves, never reach training data) →
    * duplicate-cluster keep-one → PII scrub → deterministic hash split,
    * one row per surviving document. Every stage is individually
    * oracle-gated above; this query gates the COMPOSITION (stage
    * boundaries, join keys, survivor semantics). Keep-one is "min doc_id
    * of the cluster among gate survivors", so a cluster whose canonical
    * doc failed an upstream gate still keeps its best remaining member.
    *
    * Scale shape: the gate and scrub are map-side passes plus the two
    * doc_id-keyed repetition aggregations; clustering is the banded-LSH
    * candidate join + O(log d) CC rounds; keep-one is one window over the
    * survivor set partitioned by cluster id. Nothing here is wider than the
    * corpus and every join is keyed — the chain a 100 TB curation run would
    * execute verbatim. (Profiled for redundant work at sf0.1: the dominant
    * cost was CC-round plan analysis, fixed by per-round checkpointing —
    * the round-6 bench measured the extra at 4.44 s vs 5.23 s before the
    * fix, a ~15% cut; within one invocation the shingle explode
    * materializes once into the LSH signature checkpoint and
    * repetitionStats' two scans are the algorithm, so nothing is
    * double-run.) */
  private val qCorpusPipeline = Q(
    "q_corpus_pipeline",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val surv = repetitionStats(docs)
        .filter(col("dup_word_frac") <= DupWordCap &&
          col("top_bigram_frac") <= TopBigramCap)
        .select(col("doc_id"))
        .join(contaminatedIds(s, d), Seq("doc_id"), "left_anti")
      val cc = docClusters(s, d)
      val keep = surv.join(cc, Seq("doc_id"))
        .withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy(col("label"))))
        .filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("label").as("cluster"))
      val scrub = docs.select(col("doc_id"),
        length(scrubCol(plantedCol)).cast("long").as("scrubbed_len"))
      keep.join(scrub, Seq("doc_id"))
        .withColumn("split", splitCol)
        .select(col("doc_id"), col("cluster"), col("scrubbed_len"),
          col("split"))
        .orderBy(col("doc_id"))
    },
    Some(
      s"""WITH RECURSIVE ${TextOps.lshCandCte},
         |$ccCte,
         |$repetitionCteBody,
         |$contamCte,
         |surv AS (
         |  SELECT doc_id FROM m LEFT JOIN bt USING (doc_id)
         |  WHERE dup_word_frac <= $DupWordCap AND coalesce(top_bigram_frac, 0.0) <= $TopBigramCap
         |    AND doc_id NOT IN (SELECT doc_id FROM contam)
         |),
         |keep AS (
         |  SELECT s.doc_id, cc.cluster
         |  FROM surv s JOIN cc ON cc.doc = s.doc_id
         |  QUALIFY s.doc_id = min(s.doc_id) OVER (PARTITION BY cc.cluster)
         |)
         |SELECT doc_id, cluster,
         |       length(${scrubSql(plantedSql)}) AS scrubbed_len,
         |       $splitSql AS split
         |FROM keep JOIN documents USING (doc_id)
         |ORDER BY doc_id""".stripMargin))

  /** Fixed-window document chunker with overlap — the RAG/embedding-prep
    * text splitter (the inverse of sequence packing: packing concatenates
    * short docs into training rows, this splits long docs into bounded
    * context windows). Whitespace tokens; windows of `ChunkSize` tokens
    * every `ChunkStride` (= size − overlap), so consecutive chunks share
    * `ChunkOverlap` tokens of context; the window count is
    * 1 + ⌈max(0, n − size) / stride⌉ — the final window is allowed to be
    * short (it carries the tail), empty chunks are dropped. Map-only over
    * the corpus scan: at 100 TB the explode multiplies rows ~n/stride-fold
    * with zero shuffle, and chunk identity (doc_id, chunk_idx) is stable
    * for downstream embedding/indexing joins. Exact integer arithmetic
    * mirrored in the oracle. */
  private val ChunkSize = 32
  private val ChunkOverlap = 8
  private val ChunkStride = ChunkSize - ChunkOverlap
  private val qChunkSplit = Q(
    "q_chunk_split",
    (s, d) => {
      val w = filter(split(col("text"), "\\s+"), x => x =!= "")
      val n = size(w)
      val nChunks = lit(1) +
        floor((greatest(n - ChunkSize, lit(0)) + ChunkStride - 1) /
          lit(ChunkStride)).cast("int")
      Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"), nChunks.as("nc"))
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), col("nc") - 1), i =>
            struct(i.cast("long").as("chunk_idx"),
              slice(col("w"), i * ChunkStride + 1, lit(ChunkSize)).as("cw"))))
            .as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          array_join(col("c.cw"), " ").as("chunk"),
          size(col("c.cw")).cast("long").as("n_tokens"))
        .filter(col("chunk") =!= "")
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    Some(
      s"""WITH ws AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(text, '\\s+'),
         |                     x -> x <> '') AS w
         |  FROM documents
         |),
         |nn AS (
         |  SELECT doc_id, w,
         |         1 + CAST(floor((greatest(len(w) - $ChunkSize, 0)
         |                         + $ChunkStride - 1) / $ChunkStride) AS INT)
         |           AS nc
         |  FROM ws
         |),
         |ch AS (
         |  SELECT doc_id, i AS chunk_idx,
         |         array_to_string(w[(i * $ChunkStride + 1):
         |                           (i * $ChunkStride + $ChunkSize)], ' ')
         |           AS chunk,
         |         len(w[(i * $ChunkStride + 1):
         |               (i * $ChunkStride + $ChunkSize)]) AS n_tokens
         |  FROM nn, unnest(generate_series(0, nc - 1)) t(i)
         |)
         |SELECT doc_id, chunk_idx, chunk, n_tokens FROM ch
         |WHERE chunk <> ''
         |ORDER BY doc_id, chunk_idx""".stripMargin))

  def queries: Seq[Q] = Seq(qDupClusters, qDupKeepBest, qCcChain,
    qRepetitionFilter, qPiiScrub, qHashSplit, qQuantileGate, qHeavyHitters,
    qUnigramLogprob, qBm25, qDecontaminate, qDecontaminateExt, qDomainMix,
    qSeqPack, qSeqPackTok, qSeqPackFfd, qPackFill, qPackManifest,
    qCorpusStats, qCorpusPipeline, qChunkSplit)
}
