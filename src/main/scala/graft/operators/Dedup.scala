package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.T

/** Graph-side completion of the dedup family: turn a near-duplicate PAIR
  * relation (what the LSH stages emit) into CLUSTER assignments (what a
  * curation pipeline actually consumes — "keep one canonical doc per
  * duplicate cluster"). Pairs only say a~b; transitive chains a~b~c must
  * collapse to one cluster, which is connected components over the pair
  * graph.
  *
  * Algorithm: iterative min-label propagation. Every node starts with
  * label = min(own id, smallest neighbor id); each round replaces the
  * label with the minimum label in the closed neighborhood; fixpoint =
  * every node carries its component's minimum id. This is the standard
  * large-graph CC formulation (the simple variant of map-reduce
  * star-contraction): each round is ONE shuffle linear in |edges|, and
  * rounds needed = graph diameter. LSH duplicate clusters are near-
  * cliques (diameter 1-2), so 2-3 rounds converge; a documented
  * `maxIter` bounds adversarial chains. The driver loop iterates over
  * ACTIONS (the §3.3 driver-loop pattern, like register_volumes'
  * refinement) — per-round data never leaves the executors; the driver
  * sees only the one-row "did any label change" probe.
  *
  * Scale (100 TB): no broadcast, no cross product — every round is a
  * self-equi-join on node id followed by a min-agg, both shuffling on
  * the id. Hot keys ARE real duplicate clusters (bounded by the pair
  * stage's output). Superseded label frames are unpersisted each round,
  * so peak storage is 2×|nodes| + |edges|.
  */
object Dedup {

  /** Connected components of the undirected pair graph.
    *
    * @param pairs frame with long columns `a_id`, `b_id` (one row per
    *              near-duplicate pair; direction irrelevant)
    * @param maxIter safety valve, NOT a truncation: a graph needing more
    *              rounds than this THROWS rather than emitting partial
    *              (wrong) cluster labels — silent non-convergence would
    *              split long duplicate chains with no signal, diverging
    *              from the transitive-closure semantics the oracle
    *              computes. Each round is one cheap edge-linear shuffle,
    *              so the default comfortably covers any real pair graph
    *              (rounds needed = diameter; LSH clusters are 1-3).
    * @param jumpAfter defer the pointer jump until the END of 0-based
    *              round `jumpAfter − 1` (the guard `iter + 1 >= jumpAfter`
    *              runs after round `iter`'s propagation): a graph that
    *              converges within `jumpAfter` propagation rounds never
    *              pays for a jump. It remains the
    *              label-of-label composition that halves remaining chain
    *              depth per round. Deferred because the jump is pure
    *              overhead on graphs that converge first — LSH duplicate
    *              clusters are near-cliques needing ≤ jumpAfter rounds, so
    *              the default makes the common case jump-free while a
    *              pathological chain still finishes in O(log diameter)
    *              rounds after the warm-up.
    * @return (doc_id, cluster_id, n_members): every node that appears in
    *         a pair, its component's minimum id, and the component size —
    *         deterministic, ordered by doc_id
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      jumpAfter: Int = 2, seed: Option[DataFrame] = None): DataFrame = {
    val labels = ccLabels(pairs, maxIter, jumpAfter, seed)
    // Component sizes via agg + join, NOT a count-over-window: a window
    // partition is indivisible — one degenerate giant component would
    // put ALL its rows in a single buffering task (the window must
    // materialize the partition before emitting). The agg partial-
    // combines map-side (the hot label collapses to one row per task
    // before the shuffle), the sizes frame is component-count-sized (so
    // Spark broadcasts it when small and AQE can split the probe side
    // when it is not), and the labels rows stream through the join
    // without ever concentrating — the 100×-safe spelling.
    val sizes = labels.groupBy("lab").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "lab")
      .select(col("u").as("doc_id"), col("lab").as("cluster_id"),
        col("n_members"))
      .orderBy("doc_id")
  }

  /** Exact sum of the current label frame — the convergence probe. Label
    * propagation is pointwise monotone non-increasing, so two consecutive
    * rounds have equal sums iff the labels are pointwise equal. The sum
    * is exact: decimal(38,0) holds ~1e38, and any real graph is below
    * ~1e19 rows × max-long labels. The ONE aggregate job doubles as the
    * round's checkpoint materialization (the former spelling needed the
    * per-round old-vs-new join just to feed a changed-rows count); the
    * row count rides in the same aggregate for [[ccProbe]]'s check.
    */
  private def labSum(labels: DataFrame): Option[java.math.BigDecimal] = {
    val r = labels.agg(count(lit(1)), sum(col("lab").cast("decimal(38,0)"))).head
    ccProbe(r.getLong(0), r.getDecimal(1))
  }

  /** The probe value of a label frame with `n` rows and label sum `s`:
    * None for the empty graph, the sum otherwise. A null sum over a
    * NON-empty frame is a decimal overflow (non-ANSI mode returns null
    * instead of failing) — two such rounds would compare equal and stop
    * the loop on unconverged labels, so it fails loudly here instead.
    */
  private[graft] def ccProbe(n: Long,
      s: java.math.BigDecimal): Option[java.math.BigDecimal] =
    if (n > 0 && s == null)
      throw new IllegalStateException(
        s"connectedComponents: the label sum of $n rows overflowed decimal(38,0); " +
          "the convergence probe cannot decide")
    else Option(s)

  /** Value equality of two probe sums (BigDecimal.equals is scale-
    * sensitive; compareTo is the value compare). None = empty graph.
    */
  private[graft] def ccSumEq(a: Option[java.math.BigDecimal],
      b: Option[java.math.BigDecimal]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => x.compareTo(y) == 0
    case (None, None) => true
    case _ => false
  }

  /** The label fixpoint of [[connectedComponents]] without the trailing
    * size join / global sort: (u, lab) for every node in a pair, lab =
    * its component's minimum id. Callers that feed the labels into a
    * further join (incremental seeding, contracted-graph member
    * re-attachment) use this directly and skip two exchanges + a sort.
    */
  private[graft] def ccLabels(pairs: DataFrame, maxIter: Int = 50,
      jumpAfter: Int = 2, seed: Option[DataFrame] = None): DataFrame = {
    // Both directions from ONE pass over pairs (a union of two selects
    // would run the upstream pair-generation plan twice inside the same
    // materialization — for LSH pair inputs that is the expensive part).
    // T.cached: registered for post-materialization release by the
    // harness mains (the query-lambda contract returns a lazy frame, so
    // unpersist-before-return would forfeit the reuse it exists for).
    // repartition(col("v")) BEFORE the cache: every propagation round
    // joins edges on v, so hash-partitioning the cached frame once lets
    // the planner co-partition each round's node-sized label frame to it
    // instead of re-shuffling the EDGE-sized side every round (guide
    // §2.4 — one exchange, paid once). The count is deliberately NOT
    // pinned: AQE sizes it from actual edge bytes (tiny fixture → few
    // partitions → few tasks per round; 100 TB → advisory-sized), which
    // is the scale-adaptive layout the round loop then inherits.
    val edges = T.cached(pairs
      .select(explode(array(
        struct(col("a_id").cast("long").as("u"), col("b_id").cast("long").as("v")),
        struct(col("b_id").cast("long").as("u"), col("a_id").cast("long").as("v"))))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .repartition(col("v")))
    // Optional INCREMENTAL seed: labels of a previous run over a
    // subgraph, folded into the initialization with least(). Label
    // propagation is monotone toward each component's min MEMBER id and
    // every seed label IS a member id of its (possibly since-merged)
    // component, so any seed converges to the identical fixpoint — just
    // in fewer rounds, because unchanged regions START at their answer.
    // The incremental-maintenance verb: re-cluster after a shard lands
    // without paying the full graph's diameter again.
    val init0 = {
      val init = edges.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("lab"))
      seed.fold(init) { sd =>
        init.join(sd.select(col("u"), col("lab").as("seed_lab")), Seq("u"), "left")
          .select(col("u"),
            least(col("lab"), coalesce(col("seed_lab"), col("lab"))).as("lab"))
      }
    }
    // Checkpointed frames the CURRENT `labels` plan still reads; each
    // round frees the previous round's set once its own materialization
    // no longer needs them (lineage is truncated, so a superseded frame
    // can never be demanded again).
    var labels = T.checkpointed(init0)
    var live: List[DataFrame] = labels :: Nil
    var prevSum = labSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // One round = UNION + min-agg, not join + groupBy + re-join: the
      // new label min(own, neighborhood) is the min over (u, own lab) ∪
      // (u, each neighbor's lab), so folding both into one aggregate
      // removes the per-round nbrMin⋈labels join and its node-sized
      // exchange (the x_graph_bfs settled∪messages device). Nodes with
      // no surviving neighbor rows keep their label via the union arm —
      // the old left join's coalesce, for free.
      val nbr = edges
        .join(labels.select(col("u").as("v"), col("lab").as("vlab")), "v")
        .select(col("u"), col("vlab").as("lab"))
      // localCheckpoint (lazy) + ONE aggregate: the round's single Spark
      // job both materializes the new label frame — blocks persist,
      // lineage truncates, so per-round plans stay FLAT instead of
      // deepening (re-analysis + scheduling of a growing plan dominated
      // wall time on small graphs) — and returns the label sum whose
      // equality with the previous round's is the convergence bit
      // (labSum's monotonicity argument). The former spelling kept the
      // per-row old label through a join just to count changed rows.
      val step = T.checkpointed(
        nbr.union(labels).groupBy("u").agg(min(col("lab")).as("lab")))
      val s = labSum(step)
      converged = ccSumEq(s, prevSum)
      prevSum = s
      var nextLive: List[DataFrame] = step :: Nil
      labels = step
      if (!converged && iter + 1 >= jumpAfter) {
        // Pointer jump (label-of-label): u's label is itself a node, so
        // compose one hop — lab'(u) = min(lab(u), lab(lab(u))). Halves
        // the remaining chain depth each round, turning O(diameter)
        // edge-join rounds into O(log diameter) — the lever that matters
        // when the EDGE join (corpus-sized) is the per-round cost and a
        // pathological chain would otherwise mean diameter extra passes.
        // Deferred until round `jumpAfter`: LSH near-dup clusters are
        // near-cliques (diameter 1-3) that converge before the jump
        // would ever fire, so the common case pays zero extra jobs.
        // Checkpointed + materialized here (the one extra job, on jump
        // rounds only): the jumped frame is consumed TWICE next round
        // (the nbr join side and the union arm) — lazy, the node-sized
        // jump join would execute twice per round (the round-5 2.4×
        // regression in its uncached form).
        // Monotone and bounded by the component min, so the fixpoint is
        // unchanged. prevSum is re-taken from the POST-jump labels (the
        // labSum agg is also what materializes this lazy checkpoint —
        // same one job the former eager materialization paid): comparing
        // the next step against the pre-jump sum instead would spend one
        // extra full propagation round whenever convergence lands right
        // after an effective jump (measured +0.3 s on the diameter-14
        // x_graph_cc path graph). Left join: every label IS a node in
        // `labels`, but stay total.
        val parent = step.select(col("u").as("p_u"), col("lab").as("p_lab"))
        labels = T.checkpointed(labels.join(parent, col("lab") === col("p_u"), "left")
          .select(col("u"),
            least(col("lab"), coalesce(col("p_lab"), col("lab"))).as("lab")))
        prevSum = labSum(labels)
        nextLive = labels :: nextLive
      }
      live.foreach(T.freeCheckpoint(_))
      live = nextLive
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — the pair " +
          "graph's diameter exceeds maxIter; raise it rather than consume " +
          "partial labels (each extra round is one edge-linear shuffle)")
    labels
  }

  /** Transitive-closure dedup policy: every connected component of the
    * near-dup pair graph keeps exactly its min-id member. More aggressive
    * than Curation's neighbor policy (which keeps any doc with no DIRECT
    * smaller-id neighbor): on a star 1~3, 2~3 this keeps only doc 1,
    * where the neighbor policy keeps 1 AND 2 because their mutual
    * similarity was never established by a pair. Pick per corpus; both
    * are deterministic.
    *
    * @param docs  frame keyed by `doc_id`
    * @param pairs near-dup pairs (`a_id`, `b_id`) over the same ids
    * @return docs minus every non-canonical member of a pair component
    */
  def dropNonCanonical(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val doomed = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    docs.join(doomed, Seq("doc_id"), "left_anti")
  }

  /** Quality-aware survivor policy: every connected component keeps its
    * BEST-scoring member (ties broken by min doc_id), instead of
    * [[dropNonCanonical]]'s min-id member. This is what production
    * curation wants — when a boilerplate-stripped mirror of a page scores
    * higher than the earlier-crawled original, keep the mirror. Identical
    * cluster semantics (same transitive closure); only the within-cluster
    * choice differs, and exactly when quality order disagrees with id
    * order.
    *
    * Shape: one window shuffle on cluster_id over the (id, score) pairs —
    * node-sized, no doc payloads move — then an ids-only anti-join back to
    * `docs`. Docs in no pair are never shuffled at all.
    *
    * @param docs     frame keyed by `doc_id` carrying `scoreCol`
    * @param pairs    near-dup pairs (`a_id`, `b_id`) over the same ids
    * @param scoreCol numeric quality column in `docs`; higher wins
    */
  def keepBest(docs: DataFrame, pairs: DataFrame, scoreCol: String): DataFrame = {
    val members = connectedComponents(pairs)
      .select("doc_id", "cluster_id")
      .join(docs.select(col("doc_id"), col(scoreCol).as("_score")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("_score").desc_nulls_last, col("doc_id").asc)
    val doomed = members
      .select(col("doc_id"), row_number().over(w).as("_rn"))
      .filter(col("_rn") > 1)
      .select("doc_id")
    docs.join(doomed, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------------------------------
  // Incremental dedup: new shard vs a FROZEN corpus. Production curation
  // dedups each incoming batch against history, not against itself — the
  // corpus's minhash signatures are computed ONCE at ingest and persisted
  // as a bucketed table, so every later shard pays only its own signature
  // pass plus a band equi-join that reloads the corpus side pre-hashed
  // (zero Exchange on the 100 TB side; BucketingSpec-style assertion in
  // DedupSpec). Signature semantics are exactly the graded
  // x_dedup_minhash: 8-seed Md5MinHash bands, pair = ≥ minBands agreeing.
  // ------------------------------------------------------------------

  /** One row per (doc_id, seed, mh): the band-join key frame for a
    * (doc_id, text) corpus, via the native one-pass Md5MinHash expression
    * (values ≡ min(md5(tok ∥ '#' ∥ seed)) over distinct space tokens).
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    graft.ops.Custom.register(docs.sparkSession)
    docs.select(col("doc_id").cast("long").as("doc_id"),
      posexplode(expr("graft_minhash_md5(text)")).as(Seq("seed", "mh")))
  }

  /** Identical-signature CONTRACTION, the one pair path of the sketch
    * dedup family (minhash here; simhash and token-set Jaccard in
    * ops/Similarity). A near-dup corpus is dominated by EXACT template
    * copies: docs whose signatures are identical (sf0.1: a 1762-doc group
    * alone is 1.55 M of the minhash graph's 9.2 M pairs). Every supported
    * pair measure is a function of the two signatures alone, so:
    *
    *  1. group docs by signature (plus optional blocking `keys`); rep =
    *     min(doc_id) per group, members sorted;
    *  2. every within-group pair takes the measure's identical-signature
    *     value and is emitted by a combination explode ([[within]]) —
    *     output-sized, no join;
    *  3. the caller's candidate join runs among REPS only, so its hot
    *     buckets hold distinct signatures, not docs (the Σk² blowup
    *     becomes reps-sized), and each cross-group value is decided once;
    *  4. rep pairs expand to member pairs ([[expand]]).
    *
    * The emitted pair set equals the uncontracted one for any grouping
    * into identical-signature groups. Null contract: a null signature
    * (null text) is dropped here, so a null-text doc pairs with nothing,
    * not even another null-text doc. The groups frame is T.cached: the
    * within explode, the caller's rep join and both expansion joins read
    * it.
    *
    * @param sigs frame with `doc_id`, `sig` and the `keys` columns
    */
  private[graft] final class SignatureGroups(sigs: DataFrame, keys: String*) {
    /** (keys…, sig, rep, members, k): one row per distinct non-null
      * signature. k counts non-null signatures, so the null group has
      * k = 0 and the filter on the aggregate output drops it; a filter on
      * `sig` itself would be pushed below the projection and evaluate the
      * signature expression twice per doc.
      */
    val groups: DataFrame = T.cached(sigs
      .groupBy((keys :+ "sig").map(col): _*)
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members"),
        count(col("sig")).as("k"))
      .filter(col("k") > 0))

    /** (a_id, b_id, payload): every within-group pair, a_id < b_id;
      * `payload` is evaluated per group (the measure's value for two
      * identical signatures).
      */
    def within(payload: Column): DataFrame = {
      val exploded = groups.filter(col("k") >= 2)
        .select(explode(expr(
          "flatten(transform(members, (x, i) -> " +
            "transform(slice(members, i + 2, size(members)), " +
            "y -> named_struct('a_id', x, 'b_id', y))))")).as("p"), payload)
      exploded.select(col("p.a_id") +: col("p.b_id") +:
        exploded.columns.filter(_ != "p").map(col).toSeq: _*)
    }

    /** Rep pairs (a_rep, b_rep, payload…) → member pairs (a_id, b_id,
      * payload…): each side's members re-attach through one equi-join on
      * the rep; ids interleave across groups, so the canonical order is
      * least/greatest.
      */
    def expand(repPairs: DataFrame): DataFrame = {
      val payload = repPairs.columns.filterNot(Set("a_rep", "b_rep")).map(col).toSeq
      repPairs
        .join(groups.select(col("rep").as("a_rep"), col("members").as("mem_a")), "a_rep")
        .join(groups.select(col("rep").as("b_rep"), col("members").as("mem_b")), "b_rep")
        .select(explode(col("mem_a")).as("x") +: col("mem_b") +: payload: _*)
        .select(col("x") +: explode(col("mem_b")).as("y") +: payload: _*)
        .select(least(col("x"), col("y")).as("a_id") +:
          greatest(col("x"), col("y")).as("b_id") +: payload: _*)
    }
  }

  /** Minhash signature groups over a (doc_id, text) corpus. The per-doc
    * signature ARRAY comes from one Md5MinHash pass; md5 runs once
    * because only the cached groups frame reads it (the cap path caches
    * the array itself, which its frequency agg reads a second time).
    *
    * `maxBandFreq` nulls every (seed, mh) entry carried by more than that
    * many docs BEFORE grouping; [[liveBands]] and [[minhashRepPairs]]
    * then count only non-null entries. Hotness is a property of the
    * (seed, mh) key, so two docs agree on exactly the non-hot bands they
    * shared — the pair set of a band self-join with the hot keys
    * stop-listed, on the one contracted path. With the cap unset nothing
    * is nulled.
    */
  private def minhashGroups(docs: DataFrame,
      maxBandFreq: Option[Long]): SignatureGroups = {
    graft.ops.Custom.register(docs.sparkSession)
    val sigArr = docs.select(col("doc_id").cast("long").as("doc_id"),
      expr("graft_minhash_md5(text)").as("sig"))
    val sigs = maxBandFreq.fold(sigArr) { cap =>
      val rows = T.cached(sigArr)
        .select(col("doc_id"), posexplode(col("sig")).as(Seq("seed", "mh")))
      val hot = rows.groupBy("seed", "mh").agg(count(lit(1)).as("_freq"))
        .filter(col("_freq") > cap)
        .select(col("seed"), col("mh"), lit(true).as("_hot"))
      rows.join(broadcast(hot), Seq("seed", "mh"), "left")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("seed"),
          when(col("_hot").isNull, col("mh")).as("mh")))).as("_s"))
        .select(col("doc_id"), col("_s.mh").as("sig"))
    }
    new SignatureGroups(sigs)
  }

  /** Non-null signature entries of a group: the n_bands of any two of
    * its members (8 unless the hot-band cap nulled some).
    */
  private val liveBands: Column =
    size(filter(col("sig"), _.isNotNull)).cast("long")

  /** (a_rep, b_rep, n_bands ≥ minBands): the (seed, mh) band equi-join
    * among group reps, over non-null entries.
    */
  private def minhashRepPairs(g: SignatureGroups, minBands: Int): DataFrame = {
    val bands = g.groups
      .select(col("rep"), posexplode(col("sig")).as(Seq("seed", "mh")))
      .filter(col("mh").isNotNull)
    bands.select(col("rep").as("a_rep"), col("seed"), col("mh"))
      .join(bands.select(col("rep").as("b_rep"), col("seed"), col("mh")),
        Seq("seed", "mh"))
      .filter(col("a_rep") < col("b_rep"))
      .groupBy("a_rep", "b_rep").agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= minBands)
  }

  /** Near-duplicate pairs WITHIN one corpus, the pair semantics of the
    * graded x_dedup_minhash: (a_id, b_id, n_bands ≥ minBands), a_id <
    * b_id, n_bands = how many of the 8 (seed, mh) bands the two docs
    * share. Computed by identical-signature contraction
    * ([[SignatureGroups]]): within-group pairs carry all their live bands,
    * the band join runs among reps only. Exact for every minBands.
    *
    * Null contract: a null `text` has no signature, so its doc is in no
    * pair. An empty `text` is an ordinary token set (one empty token).
    *
    * @param maxBandFreq stop-list band keys carried by more than this many
    *        docs (doc count, not rep count), bounding any hot key's
    *        fan-out; the miss trade is the one documented on
    *        [[dedupAgainst]]
    */
  def minhashSelfPairs(docs: DataFrame, minBands: Int = 4,
      maxBandFreq: Option[Long] = None): DataFrame = {
    val g = minhashGroups(docs, maxBandFreq)
    // a pair needs one live band: a group the cap nulled entirely has none
    g.within(liveBands.as("n_bands"))
      .filter(col("n_bands") >= math.max(minBands, 1))
      .union(g.expand(minhashRepPairs(g, minBands)))
  }

  /** Duplicate CLUSTERS of the ≥`minBands` minhash pair graph: exactly
    * `connectedComponents(minhashSelfPairs(docs, minBands))`, computed on
    * the contracted graph. CC runs over the REP pairs only; members
    * re-attach after the fixpoint. A group's members are pairwise
    * 8-band dups, so a member's component is its rep's, and labels still
    * equal the uncontracted graph's min doc_id (rep = min of its group ⇒
    * component min doc = component min rep). The propagation loop's edge
    * volume is Σ(rep pairs), distinct-signatures-sized. A doc surfaces
    * iff its group has ≥ 2 members or its rep meets another rep.
    *
    * Null contract: a null `text` has no signature, so its doc is in no
    * cluster. An empty `text` is an ordinary token set.
    */
  def minhashComponents(docs: DataFrame, minBands: Int = 4): DataFrame = {
    val g = minhashGroups(docs, None)
    val repLab = ccLabels(minhashRepPairs(g, minBands)
        .select(col("a_rep").as("a_id"), col("b_rep").as("b_id")))
      .select(col("u").as("rep"), col("lab"))
    val labeled = g.groups
      .select(explode(col("members")).as("doc_id"), col("rep"),
        (col("k") >= 2 && liveBands >= minBands).as("_dup"))
      .join(repLab, Seq("rep"), "left")
      .filter(col("_dup") || col("lab").isNotNull)
      .select(col("doc_id"), coalesce(col("lab"), col("rep")).as("lab"))
    val sizes = labeled.groupBy("lab").agg(count(lit(1)).as("n_members"))
    labeled.join(sizes, "lab")
      .select(col("doc_id"), col("lab").as("cluster_id"), col("n_members"))
      .orderBy("doc_id")
  }

  /** Build the persisted corpus index: signatures written as a managed
    * parquet table bucketed by the FULL band key (seed, mh) — the
    * incremental join's exact key set, which is what lets the planner
    * reuse the bucketing and plan the corpus side with no Exchange (a
    * subset bucket key would co-locate the rows too, but
    * requireAllClusterKeysForCoPartition makes the planner re-shuffle
    * it). Bucket count is the write-time knob that fixes the join
    * parallelism of every later shard — size it to the target cluster,
    * not the shard.
    */
  def writeCorpusIndex(docs: DataFrame, table: String, buckets: Int = 32): Unit =
    graft.sources.Bucketing.writeBucketed(
      minhashSignatures(docs), table, Seq("seed", "mh"), buckets)

  /** Near-duplicate pairs between a new shard and the frozen corpus:
    * (corpus_id, new_id, n_bands) where ≥ `minBands` of the 8 signature
    * bands agree. The corpus side is the pre-bucketed signature table
    * (loaded by name, NOT recomputed); only the shard pays a signature
    * pass. Same pair semantics as the x_dedup_minhash self-join restricted
    * to (corpus × new) — DedupSpec proves that equivalence on a split
    * corpus.
    *
    * @param maxBandFreq optional hot-band stop-list (the standard minhash
    *        skew defense): a band key (seed, mh) carried by more than this
    *        many corpus docs — boilerplate, empty-ish documents, template
    *        chrome — is dropped from the corpus side BEFORE the join, so
    *        no single key can fan out to a corpus-sized candidate cluster.
    *        Trade, documented and deliberate: a pair is missed or
    *        undercounted only when stop-listed bands were among its
    *        agreeing bands — i.e. agreement carried by corpus-wide
    *        boilerplate, which is exactly the evidence a curation pipeline
    *        should discount. The frequency agg groups by the index's own
    *        bucket key, so it plans with no Exchange on the corpus side,
    *        and the hot set (few keys by definition of the cap) broadcasts
    *        into the anti-join.
    */
  def dedupAgainst(spark: org.apache.spark.sql.SparkSession, corpusIndex: String,
      newDocs: DataFrame, minBands: Int = 4,
      maxBandFreq: Option[Long] = None): DataFrame = {
    val corpusAll = spark.table(corpusIndex)
      .select(col("doc_id").as("corpus_id"), col("seed"), col("mh"))
    val corpus = maxBandFreq.fold(corpusAll) { cap =>
      val hot = spark.table(corpusIndex)
        .groupBy("seed", "mh").agg(count(lit(1)).as("_freq"))
        .filter(col("_freq") > cap)
        .select("seed", "mh")
      corpusAll.join(broadcast(hot), Seq("seed", "mh"), "left_anti")
    }
    val fresh = minhashSignatures(newDocs)
      .select(col("doc_id").as("new_id"), col("seed"), col("mh"))
    corpus.join(fresh, Seq("seed", "mh"))
      .groupBy("corpus_id", "new_id")
      .agg(count(lit(1)).as("n_bands"))
      .filter(col("n_bands") >= minBands)
  }

  /** The shard-ingest filter: new documents that near-duplicate NOTHING in
    * the frozen corpus (the rows an incremental pipeline appends). The
    * duplicate-id set is distinct'd before the anti-join so its shuffle
    * moves ids, not text.
    */
  def filterNovel(spark: org.apache.spark.sql.SparkSession, corpusIndex: String,
      newDocs: DataFrame, minBands: Int = 4,
      maxBandFreq: Option[Long] = None): DataFrame = {
    val dup = dedupAgainst(spark, corpusIndex, newDocs, minBands, maxBandFreq)
      .select(col("new_id").as("doc_id")).distinct()
    newDocs.join(dup, Seq("doc_id"), "left_anti")
  }

  /** Append a shard's signatures to the corpus index — the write-back
    * half of the ingest loop. saveAsTable(Append) validates the catalog
    * bucket spec and writes new files bucket-aligned, so later
    * dedupAgainst joins still reload the corpus side Exchange-free (each
    * append adds one file per bucket; reads merge per-bucket file sets —
    * compact on your own cadence, like any LSM-ish index).
    */
  def appendToCorpusIndex(docs: DataFrame, table: String): Unit =
    graft.sources.Bucketing.appendBucketed(minhashSignatures(docs), table)

  /** Rewrite the corpus index as one file set — the LSM-style compaction
    * for [[appendToCorpusIndex]]: every append adds a file per bucket, so
    * after many shards each bucket is a pile of small files (more tasks,
    * lost per-file sort). Reads the current rows, rewrites them bucketed
    * into a side table, then drop + rename — the read must finish before
    * the drop, which the side-table write guarantees (the rewrite is the
    * materialization). Same name, same spec, one sorted file per bucket
    * per writer task.
    */
  def compactCorpusIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val side = table + "_compacting"
    // Crash recovery for the non-atomic swap below (two catalog
    // statements; a crash between DROP and RENAME strands the rows in the
    // side table).
    //
    // SCOPE: this recovery needs the catalog entries to have SURVIVED the
    // crash — i.e. a persistent metastore (Hive/production), or a crash
    // that kept the JVM (task failure, OOM-killed job) on the default
    // in-memory catalog. After a whole-JVM crash on an in-memory catalog,
    // a fresh session sees NO tables: tableExists(side) is false, this
    // path never fires, the compacted rows sit orphaned in the
    // warehouse's side-table directory, and reading `table` throws
    // table-not-found. There is no filesystem-only repair — the bucket
    // spec lives in the catalog, and re-registering bare parquet dirs
    // would silently drop the zero-Exchange property the index exists
    // for. The production posture is therefore: persistent metastore +
    // this recovery; on an in-memory catalog treat the warehouse as
    // scratch and rebuild via writeCorpusIndex (writeBucketed clears the
    // orphaned locations on the way).
    //
    // On entry:
    //  - side exists, main missing → a prior run died inside the swap;
    //    the side table IS the compacted index — finish its rename.
    //  - side exists, main exists → a prior run died before its drop; the
    //    main table is still complete and the side copy is stale —
    //    discard it explicitly rather than letting writeBucketed clobber
    //    it silently.
    val sideExists = spark.catalog.tableExists(side)
    if (sideExists && !spark.catalog.tableExists(table)) {
      spark.sql(s"ALTER TABLE `$side` RENAME TO `$table`")
      return // the recovered table is already one compacted file set
    } else if (sideExists) {
      spark.sql(s"DROP TABLE `$side`")
    }
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table has no bucket spec — not a corpus index"))
    graft.sources.Bucketing.writeBucketed(
      spark.table(table), side, spec.bucketColumnNames, spec.numBuckets)
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$side` RENAME TO `$table`")
  }

  /** One full ingest step: keep only shard docs that near-duplicate
    * neither the corpus NOR an earlier novel doc of the same shard
    * (in-shard minhash pairs, smaller id wins — without this, two copies
    * of a novel doc arriving in one shard would both pass the
    * corpus-only filter and both enter the index), then append the
    * survivors' signatures and return the survivors. The novel set is
    * eagerly localCheckpoint'ed BEFORE the append: its plan READS the
    * index the append mutates, and a mere persist() does not survive —
    * writing a table invalidates every cached plan referencing it, so
    * the "cached" result would silently recompute against the appended
    * index and each novel doc would kill itself. Lineage truncation
    * makes the result independent of the table. (On a real cluster,
    * localCheckpoint lives on executors — a production ingest would
    * land the survivors durably first, which truncates lineage anyway.)
    */
  def ingestShard(spark: org.apache.spark.sql.SparkSession, corpusIndex: String,
      shard: DataFrame, minBands: Int = 4,
      maxBandFreq: Option[Long] = None): DataFrame = {
    val vsCorpus = filterNovel(spark, corpusIndex, shard, minBands, maxBandFreq)
    val inShardDup = minhashSelfPairs(vsCorpus, minBands, maxBandFreq)
      .select(col("b_id").as("doc_id")).distinct()
    val novel = T.checkpointed(
      vsCorpus.join(inShardDup, Seq("doc_id"), "left_anti"), eager = true)
    appendToCorpusIndex(novel, corpusIndex)
    novel
  }

  /** The excision step completing the exact-substring family: rewrite
    * every document with its duplicated spans REMOVED, keeping exactly
    * one occurrence corpus-wide (the one in the minimum doc_id — the
    * same canonical-survivor convention as the pair policies). The
    * Lee-et-al. production treatment: boilerplate/license/template runs
    * vanish from every copy but one, and the documents themselves
    * survive for document-level near-dup afterwards.
    *
    * Pipeline (corpus-linear, no cross product, no pair emission):
    *  1. the cached [[windowFrame]] (doc_id, whs) — the same per-doc
    *     window hashes [[substringSpans]] reads;
    *  2. [[repeatedWindows]]: ONE aggregate per window hash gives both
    *     the repeat test (≥ minDocs distinct docs) and the canonical
    *     min(doc_id);
    *  3. every window occurrence (doc_id, pos, wh) outside its
    *     canonical doc is a cut start; `collect_list(pos)` per doc_id
    *     gathers each doc's starts;
    *  4. the docs left-join their cuts, and one narrow per-doc
    *     projection ([[graft.ops.RemoveTokenSpans]], codegen'd, linear
    *     in tokens + cuts) drops tokens [s, s + k) of every start s and
    *     rejoins the rest with ' '.
    * No per-token explode, anti-join or per-doc sort-and-rebuild: a doc
    * without cuts passes through the projection byte-identical. The
    * shuffles are the repeat aggregate (on wh), the cut collection (on
    * doc_id) and the output sort; the two joins broadcast only when
    * their build sides are small. `doc_id` must be a key.
    *
    * @return (doc_id, text) for EVERY input doc, ordered by doc_id —
    *         untouched docs pass through byte-identical; fully-covered
    *         docs and null texts come back empty
    */
  def removeSpans(docs: DataFrame, textCol: String = "text", k: Int = 8,
      minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{columnOf, exprOf}
    val wins = T.cached(windowFrame(docs, textCol, k))
    val cuts = wins.select(col("doc_id"), posexplode(col("whs")).as(Seq("pos", "wh")))
      .join(repeatedWindows(wins, minDocs), "wh")
      .filter(col("doc_id") =!= col("cdoc"))
      .groupBy("doc_id").agg(collect_list("pos").as("cut_pos"))
    val starts = coalesce(col("cut_pos"), typedLit(Seq.empty[Int]))
    val kept = columnOf(graft.ops.RemoveTokenSpans(exprOf(col(textCol)), exprOf(starts), k))
    docs.select(col("doc_id"), col(textCol))
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(kept, lit("")).as(textCol))
      .orderBy("doc_id")
  }

  /** (doc_id, whs): every doc's k-token window hashes, one row per doc,
    * `whs(i)` the window starting at token i — the shared feedstock of
    * the substring family ([[substringSpans]], [[removeSpans]],
    * [[decontaminate]]), which explode it into the (doc_id, pos, wh)
    * inverted index as each needs. Docs shorter than k (and null texts)
    * have no windows: windowHashes returns [] for them, so no length
    * filter is needed — one would be pushed below the projection and
    * hash every token twice.
    */
  private def windowFrame(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    import graft.functions.TextAnalysis.{tokenHashesMd5, windowHashes}
    // Token hashes materialize as their own projection so windowHashes
    // reads an attribute, not a re-derived expression (CollapseProject
    // keeps multi-use non-cheap aliases in their own stage).
    docs.select(col("doc_id"), tokenHashesMd5(col(textCol)).as("hs"))
      .select(col("doc_id"), windowHashes(col("hs"), k).as("whs"))
  }

  /** (wh, cdoc): every window hash occurring in ≥ `minDocs` distinct
    * docs, with its canonical (minimum) doc — ONE partial-combined
    * aggregate (one shuffle, on wh) over a [[windowFrame]], shared by
    * [[substringSpans]] (which keeps the hashes; the unused min is
    * pruned) and [[removeSpans]] (which cuts every occurrence outside
    * cdoc). Each doc contributes its DISTINCT hashes (array_distinct
    * inside its own row), so with `doc_id` a key the plain count is the
    * distinct-doc count — no (wh, doc_id) pre-aggregation shuffle. Keys
    * are uniform md5-derived hashes; a hot hash IS shared boilerplate.
    */
  private def repeatedWindows(wins: DataFrame, minDocs: Int): DataFrame =
    wins.select(col("doc_id"), explode(array_distinct(col("whs"))).as("wh"))
      .groupBy("wh")
      .agg(count(col("doc_id")).as("nd"), min("doc_id").as("cdoc"))
      .filter(col("nd") >= minDocs)
      .select("wh", "cdoc")

  /** Per-doc benchmark-contamination counts: how many of a document's
    * k-token windows also occur ANYWHERE in `benchmark` (the
    * Brown-et-al./Lee-et-al. train-test decontamination signal — an
    * eval set leaking into pretraining data inflates every downstream
    * score it touches). The benchmark's distinct window-hash set plays
    * the corpus-index role: docs' windows left-semi join it (equi on the
    * hash, benchmark side aggregated tiny), one count agg per doc. Docs
    * with zero hits are absent from the result.
    */
  def contaminationHits(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", k: Int = 8): DataFrame = {
    val benchWh = windowFrame(benchmark, textCol, k)
      .select(explode(col("whs")).as("wh")).distinct()
    windowFrame(docs, textCol, k)
      .select(col("doc_id"), explode(col("whs")).as("wh"))
      .join(benchWh, Seq("wh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Drop every doc whose benchmark overlap exceeds `maxHits` colliding
    * k-token windows (default 0: any verbatim k-run shared with the
    * benchmark kills the doc). The filter form of [[contaminationHits]];
    * anti-join on ids only, so the surviving rows stream through
    * untouched.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", k: Int = 8, maxHits: Long = 0): DataFrame = {
    val doomed = contaminationHits(docs, benchmark, textCol, k)
      .filter(col("n_hits") > maxHits).select("doc_id")
    docs.join(doomed, Seq("doc_id"), "left_anti")
  }

  /** Exact-substring (repeated k-token span) dedup — the Lee-et-al.-style
    * family the set/sketch methods miss: two documents that are globally
    * dissimilar but share a long VERBATIM run (boilerplate header,
    * license block, templated chrome). Finds, for every document, the
    * maximal token spans whose every k-token window also occurs in at
    * least `minDocs` distinct documents.
    *
    * Pipeline (all corpus-linear, no cross product):
    *  1. one md5 per TOKEN → polynomial k-window hashes over the hash
    *     array ([[graft.functions.TextAnalysis.windowHashes]]) — the
    *     rolling-hash trick split into its O(n) hashing half and its
    *     O(n·k) cheap integer half, both narrow map work;
    *  2. explode [[windowFrame]] to (doc_id, pos, wh): one row per token
    *     position — the INVERTED INDEX over window hashes (the
    *     x_dedup_ngram device one level below: windows, not shingle
    *     strings, so matches are order-sensitive and position-addressed);
    *  3. window hashes repeated across ≥ minDocs documents
    *     ([[repeatedWindows]], the aggregate [[removeSpans]] shares;
    *     `doc_id` must be a key);
    *  4. left-semi join positions against the repeated set (equi on the
    *     hash — shuffle volume is corpus-linear; a hot hash IS shared
    *     boilerplate, which is the output);
    *  5. merge overlapping/adjacent hit windows into maximal spans: the
    *     gaps-and-islands lag-window (the t_session device) per doc —
    *     same-length intervals merge exactly when starts differ by ≤ k.
    *
    * Scale (100 TB): steps 1-2 are map-side; 3-4 shuffle on the window
    * hash (uniform by construction); 5 shuffles on doc_id. Span OUTPUT is
    * bounded by the input token count — unlike pair emission there is no
    * quadratic blowup on duplicate-heavy corpora, which is why this is
    * the production first-pass: remove the spans, THEN run document-level
    * near-dup on what remains.
    *
    * @return (doc_id, span_start, span_len) — 0-based token offset and
    *         token length of each maximal duplicated span, ordered
    */
  def substringSpans(docs: DataFrame, textCol: String = "text", k: Int = 8,
      minDocs: Int = 2): DataFrame = {
    val wins = T.cached(windowFrame(docs, textCol, k))
    val hits = wins.select(col("doc_id"), posexplode(col("whs")).as(Seq("pos", "wh")))
      .join(repeatedWindows(wins, minDocs).select("wh"), Seq("wh"), "left_semi")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= k, 0).otherwise(1))
      .withColumn("g", sum("brk").over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k) - min("pos")).as("span_len"))
      .select("doc_id", "span_start", "span_len")
      .orderBy("doc_id", "span_start")
  }

  /** Bloom-filter membership gate, build half (graded form:
    * x_dedup_bloom): the constant-memory pre-dedup a 100 TB ingest runs
    * BEFORE any pairwise machinery — build the bit set once from the
    * frozen corpus, stream new shards through it (bloomMaybeDup), and
    * only maybe-dups proceed to exact/near verification. The filter is
    * represented relationally as the DISTINCT set bit positions — at
    * most `m` rows of one int, broadcast-sized by construction for ANY
    * corpus size (m is the filter's memory budget, not the corpus's).
    * Positions are `k` disjoint 8-hex md5 windows mod m over the
    * x_dedup_exact normalization (lower/trim) — deterministic
    * cross-engine, no RNG. Build = one narrow explode + distinct
    * (one shuffle bounded by m).
    *
    * Sizing note (standard Bloom math): false-positive rate ≈ fill^k
    * where fill ≈ 1 − exp(−k·n/m); k·8 hex chars must fit md5's 32, so
    * k ≤ 4.
    */
  def bloomBits(docs: DataFrame, textCol: String = "text", m: Int = 4096,
      k: Int = 4): DataFrame = {
    require(k >= 1 && k <= 4, s"k=$k: md5 has 32 hex chars = 4 disjoint 8-hex windows")
    docs
      .select(md5(lower(trim(col(textCol))).cast("binary")).as("bf_h"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(pmod(
        conv(col("bf_h").substr(col("j") * 8 + 1, lit(8)), 16, 10).cast("bigint"),
        lit(m.toLong)).cast("int").as("pos"))
      .distinct()
  }

  /** Bloom-filter membership gate, probe half: flags each probe row
    * `maybe_dup` iff ALL `k` of its bit positions are set in `bits`
    * (no false negatives — a Bloom filter's defining guarantee, which
    * the spec pins; false positives are deterministic md5 arithmetic).
    * `bits` is broadcast (≤ m rows); the probe side pays one narrow
    * position explode + a broadcast join + one doc-keyed count-agg —
    * no corpus-sized shuffle anywhere.
    */
  def bloomMaybeDup(probes: DataFrame, bits: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", m: Int = 4096,
      k: Int = 4): DataFrame = {
    val hits = probes
      .select(col(idCol),
        md5(lower(trim(col(textCol))).cast("binary")).as("bf_h"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(col(idCol), pmod(
        conv(col("bf_h").substr(col("j") * 8 + 1, lit(8)), 16, 10).cast("bigint"),
        lit(m.toLong)).cast("int").as("pos"))
      .join(broadcast(bits), Seq("pos"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("bf_hits"))
      .filter(col("bf_hits") === k)
      .select(col(idCol), lit(true).as("maybe_dup"))
    probes.join(hits, Seq(idCol), "left")
      .withColumn("maybe_dup", coalesce(col("maybe_dup"), lit(false)))
  }
}
