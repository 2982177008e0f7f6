package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-CLUSTER resolution — the transitive-closure step of
  * near-dedup that pairwise stages (q25 candidates, q30 verify) stop
  * short of: LSH emits edges, but dedup must act on whole components
  * (doc A ~ B and B ~ C puts A and C in one cluster even when A ~ C
  * never collided in any band). The reference outsources dedup wholesale
  * (reference/airflow/dags/weather_etl.py:146 keeps Athena's row-level
  * GROUP BY world); a training-data pipeline needs the cluster view to
  * keep exactly one representative per duplicate group.
  *
  * Algorithm: min-label propagation with POINTER JUMPING, the
  * O(log d)-round hashtag-CC shape (Kiveris et al., "Connected
  * Components in MapReduce and Beyond") rather than naive neighbor
  * flooding:
  *   - each round first takes the min label over direct neighbors (one
  *     hop), then replaces every label by its label's label (pointer
  *     jump) — the second step halves chain depth, so a path of length
  *     2^k resolves in O(k) rounds, not 2^k;
  *   - labels only decrease, and the global label sum is a strictly
  *     decreasing convergence witness: equal sums ⇒ fixpoint. One tiny
  *     driver-side action per round (a 1-row sum — a control decision,
  *     not data collection).
  *
  * Scale posture: each round is two shuffles (hop join + jump join) over
  * the EDGE set — never all-pairs, never a driver-side graph. The
  * per-round `localCheckpoint` truncates lineage so round r's plan does
  * not replay rounds 1..r-1 (on a cluster you'd point this at a reliable
  * checkpoint dir; local mode keeps the truncation semantics). The
  * candidate graph at 100 TB is orders of magnitude smaller than the
  * corpus — edges exist only where ≥1 band collided — so the iteration
  * runs on the residue of the LSH stage, not the data.
  */
object Clusters extends graft.QueryModule {

  /** Connected components of the undirected graph given as (doc_a,
    * doc_b) pairs. Returns (id, label) for every node, label = min node
    * id in its component — the canonical keep-min-id dedup
    * representative. Deterministic: pure min-semilattice iteration to
    * fixpoint (order-insensitive), `maxIter` a safety valve far above
    * the O(log diameter) rounds pointer jumping needs; exhausting it
    * without reaching the fixpoint THROWS (the label-sum witness makes
    * detection free, and non-converged labels are silently-wrong dedup).
    *
    * `checkpointDir`: when set, per-round lineage truncation uses
    * RELIABLE checkpoints into that directory (HDFS/object store on a
    * cluster) instead of executor-local block-manager checkpoints — the
    * cluster-mode posture where losing an executor must not lose the
    * iteration's state. Local mode keeps the default (localCheckpoint):
    * same truncation semantics, no extra filesystem round-trip. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30,
                          checkpointDir: Option[String] = None): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    checkpointDir.foreach(s.sparkContext.setCheckpointDir)
    // Lazy checkpoints throughout: lineage still truncates (round r's
    // plan never replays rounds 1..r-1), but materialization rides the
    // round's own convergence action instead of a separate eager job —
    // one driver round-trip per round, half the scheduling latency of
    // eager checkpoints.
    def cp(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(false)
      else df.localCheckpoint(false)
    val edges = cp(pairs
      .select($"doc_a".cast("long").as("src"), $"doc_b".cast("long").as("dst"))
      .union(pairs.select($"doc_b".cast("long"), $"doc_a".cast("long"))))
    // Seed = round 1's hop for free: the node set needs a shuffle anyway
    // (distinct over edge endpoints), so fold the first neighbor-min
    // into that same shuffle — labels start at min(self, neighbors)
    // instead of self, saving one full hop+jump round.
    var lab = cp(edges.groupBy($"src").agg(min($"dst").as("nl"))
      .select($"src".as("id"), least($"src", $"nl").as("label")))
    var prevSum: Option[Long] = None // unknown until round 1's action
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // hop: min label over direct neighbors (and self)
      val hop = edges
        .join(lab.select($"id".as("dst"), $"label".as("nl")), "dst")
        .groupBy($"src").agg(min($"nl").as("nl"))
        .withColumnRenamed("src", "id")
      val stepped = lab.join(hop, Seq("id"), "left")
        .select($"id", least($"label", coalesce($"nl", $"label")).as("label"))
      // jump: label := label(label) — labels are node ids, so the lookup
      // table is `stepped` itself
      val jump = stepped.select($"id".as("jid"), $"label".as("jlabel"))
      val next = cp(stepped.join(jump, stepped("label") === jump("jid"), "left")
        .select(stepped("id").as("id"),
          coalesce($"jlabel", stepped("label")).as("label")))
      // the label-sum is a strictly decreasing convergence witness; this
      // action also materializes `next`'s checkpoint
      val sumRow = next.agg(sum($"label")).first()
      lab = next
      converged = sumRow.isNullAt(0) || // empty graph
        prevSum.contains(sumRow.getLong(0))
      prevSum = if (sumRow.isNullAt(0)) None else Some(sumRow.getLong(0))
      iter += 1
    }
    // Non-converged labels are silently-wrong dedup downstream (q60/q67
    // would keep/drop the wrong docs); the witness makes detection free,
    // so failing loud is strictly better than returning.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"(last label-sum ${prevSum.getOrElse("n/a")}); raise maxIter — " +
          "pointer jumping needs O(log diameter) rounds")
    lab
  }

  /** The cluster labeling as a shared per-(session, dataset) artifact —
    * the same pattern as [[LlmOps.signatures]] and the IVF index: a real
    * pipeline materializes the component labeling once per corpus
    * snapshot and every downstream consumer (dedup filter, cluster
    * stats, representative selection) reads it. The labeling is already
    * block-manager-resident via the final round's localCheckpoint.
    * Invalidation: the artifact-cache contract at [[graft.SourceStamp]]. */
  private val ccCache = new graft.StampCache[DataFrame](_.unpersist(): Unit)

  /** (doc_id, cluster_id) for every doc in ≥1 LSH candidate pair. */
  private[queries] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    ccCache(s, dir, graft.SourceStamp.table(s, dir, "documents")) {
      val pairs = LlmOps.bucketPairs(LlmOps.bandRows(LlmOps.signatures(s, dir)._2))
      connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    }

  /** DuckDB mirror of [[clusterLabels]]: the q25 candidate CTEs closed
    * transitively by a recursive CTE (min reachable id == component min,
    * the exact semantics the label propagation converges to). Yields
    * `cc(doc_id, cluster_id)`. */
  private[queries] val ccCtes: String =
    s"""${LlmOps.candCtes},
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM cand
      |  UNION SELECT doc_b, doc_a FROM cand),
      |reach AS (
      |  SELECT DISTINCT src AS id, src AS r FROM edges
      |  UNION
      |  SELECT e.src, p.r FROM edges e JOIN reach p ON p.id = e.dst),
      |cc AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  // ---------------------------------------------------------------------
  // q60: duplicate clusters over the LSH candidate graph — q25's pairs
  // resolved to components, each doc labeled with its cluster's min id
  // and the cluster size. Downstream dedup is then a trivial
  // `filter($"doc_id" === $"cluster_id")` (keep the representative) or a
  // cluster-size histogram for corpus-contamination reporting.
  // ---------------------------------------------------------------------
  val q60: Q = (s, dir) => {
    import s.implicits._
    clusterLabels(s, dir)
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy($"cluster_id")))
      .orderBy($"doc_id")
  }
  val q60Sql: String =
    s"""WITH RECURSIVE $ccCtes
      |SELECT doc_id, cluster_id,
      |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
      |FROM cc ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // q67: cluster REPRESENTATIVE selection — the real dedup keep-rule.
  // Keep-min-id (q60's cluster_id) is the canonical tie-break, but a
  // training pipeline keeps the BEST copy: per cluster, the doc with the
  // highest quality signal (distinct-token ratio here, q33's metric),
  // ties broken toward the smaller doc_id. Composes the two artifacts
  // this module and q33 already define — labeling ⋈ quality → argmax.
  //
  // Scale shape: the labeling holds every doc in >= 1 LSH candidate
  // pair — small on a clean corpus, but on a near-dup-heavy 100 TB
  // corpus it can be billions of rows, so there is deliberately NO
  // broadcast() hint here: a hard hint would turn "labeling grew" into
  // a driver/executor OOM. AQE sees the labeling's actual runtime size
  // (it is block-manager-resident from the CC iteration) and picks
  // broadcast when it fits, shuffle when it doesn't — the size check is
  // the engine's, made at run time against real bytes (contrast q61,
  // where the eval side is small BY DEFINITION and the hint is safe).
  // The per-cluster argmax is a tiny aggregate over labeled rows only;
  // max_by with a (quality, -doc_id) struct gives the deterministic
  // tie-break without a ranking window.
  // ---------------------------------------------------------------------
  val q67: Q = (s, dir) => {
    import s.implicits._
    val quality = graft.Tables.t(s, dir, "documents")
      .withColumn("tk", split($"text", " "))
      .select($"doc_id",
        (size(array_distinct($"tk")).cast("double") / size($"tk")).as("q"))
    clusterLabels(s, dir).join(quality, "doc_id")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        max_by(struct($"doc_id", $"q"), struct($"q", -$"doc_id")).as("rep"))
      .select($"cluster_id", $"n_docs",
        $"rep.doc_id".as("rep_doc_id"), $"rep.q".as("rep_ratio"))
      .orderBy($"cluster_id")
  }
  val q67Sql: String =
    s"""WITH RECURSIVE $ccCtes,
      |q AS (SELECT doc_id,
      |    CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
      |      / len(string_split(text,' ')) AS q
      |  FROM documents),
      |j AS (SELECT cc.cluster_id, cc.doc_id, q.q FROM cc JOIN q USING (doc_id)),
      |r AS (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
      |  FROM j)
      |SELECT cluster_id, n_docs, doc_id AS rep_doc_id, q AS rep_ratio
      |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q60_dup_clusters" -> q60,
    "q67_cluster_rep"  -> q67)
  val oracles: Map[String, String] = Map(
    "q60_dup_clusters" -> q60Sql,
    "q67_cluster_rep"  -> q67Sql)
}
