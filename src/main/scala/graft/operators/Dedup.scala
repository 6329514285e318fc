package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.SharedHash
import graft.functions.VectorExprs._

/** Deduplication suite over the `documents` (and `embeddings`) tables:
  * exact, MinHash+LSH, SimHash, exact n-gram Jaccard with blocking,
  * and embedding-cosine near-dup.
  *
  * Scale design: no operator here ever forms the all-pairs cross
  * product. Every near-dup detector generates candidates through a
  * *blocking key* equi-join — MinHash band values, SimHash bands
  * (pigeonhole: hamming ≤ 3 over 4 disjoint bands ⟹ one band equal),
  * (lang, length-bucket) blocks, label blocks — so the shuffle is a
  * hash join on uniform keys and the quadratic work is confined to
  * within-bucket verification. That is the standard 100 TB dedup
  * shape (the verify step only sees candidate pairs).
  *
  * Determinism: all hashing via [[SharedHash]] (engine-portable
  * rolling hash), thresholds calibrated so outputs are non-trivial on
  * the synthetic corpus.
  */
object Dedup {
  import SharedHash._

  /** PlanCache family tag — the bench releases every dedup cache in
    * one call after the family's reps complete. */
  private[graft] val Family = "dedup"

  // shared with the streaming twin (StreamOps.streamingNearDedup) so
  // the two forms band identically
  private[graft] val MinhashPerms = perms(4)
  private val MinhashTau = 0.01
  private val SimhashMaxHamming = 3
  private val JaccardTau = 0.6
  private val CosineTau = 0.35

  /** Bucket-size cap for the pair-generation skew guard (SURVEY §4):
    * blocks larger than this are split into deterministic sub-bucket
    * salts so no single task ever runs an unbounded O(b²) loop.
    *
    * Residual quadratic regime: salts are capped at [[MaxSalts]], so a
    * degenerate block far beyond MaxSalts·cap members (e.g. millions
    * of byte-identical documents sharing one band value) still costs
    * each task O((b/MaxSalts)²) — bounded relative to unguarded, but
    * quadratic in b. That regime is inherent to the OUTPUT, not the
    * plan: a block of b mutual near-dups emits Θ(b²) pairs whatever
    * the engine does, so the right mitigation upstream of any pairwise
    * detector is exact dedup first ([[qDedupExact]] collapses
    * byte-identical payloads), after which residual blocks are
    * near-dup-sized and MaxSalts·cap ≈ 32k members is ample headroom. */
  private[graft] val BucketCap = 1024
  private[graft] val MaxSalts = 32

  // ------------------------------------------------------- skew guard

  /** Replicate each (block, id, payload) row to its salt-pair tasks.
    *
    * Blocks at or under `cap` members keep the single task (0,0). A
    * block with n > cap members gets S = min(maxSalts, ceil(n/cap))
    * deterministic salts (salt = id mod S); a member with salt u is
    * replicated to every task (min(u,x), max(u,x)) for x in [0,S) —
    * S tasks. Task (i,i) owns within-salt-i pairs; task (i,j), i<j
    * owns cross pairs, so every unordered pair lands in EXACTLY one
    * task and the emitted pair set is identical to the unguarded
    * kernel, while per-task work drops from O(n²) to O((n/S)²)-ish.
    *
    * The oversized-block table is found with one narrow count
    * aggregation (payload pruned before the shuffle) and is tiny by
    * definition (skewed keys are outliers), so it broadcasts. */
  private[graft] def saltExplode[V](
      rows: Dataset[(String, Long, V)], cap: Int, maxSalts: Int)(
      implicit enc: org.apache.spark.sql.Encoder[(String, Int, Int, Long, Int, V)])
      : Dataset[(String, Int, Int, Long, Int, V)] = {
    val s = rows.sparkSession
    import s.implicits._
    val over: Map[String, Int] = rows.toDF("block", "id", "payload")
      .groupBy($"block").agg(count(lit(1)).as("n"))
      .filter($"n" > cap)
      .select($"block", $"n").as[(String, Long)].collect()
      .map { case (b, n) => b -> math.min(maxSalts.toLong, (n + cap - 1) / cap).toInt }
      .toMap
    val bc = s.sparkContext.broadcast(over)
    rows.flatMap { case (block, id, v) =>
      bc.value.get(block) match {
        case None => Iterator.single((block, 0, 0, id, 0, v))
        case Some(ns) =>
          // floorMod: a plain % is negative for negative ids, which
          // would silently drop within-salt pairs
          val u = java.lang.Math.floorMod(id, ns.toLong).toInt
          Iterator.range(0, ns).map(x => (block, math.min(u, x), math.max(u, x), id, u, v))
      }
    }
  }

  /** Skew-guarded within-block pair generation: every unordered pair
    * of same-block members is offered to `pairFn` exactly once, with
    * the lower id first; `None` drops the pair. Per-task work is
    * bounded by the salting in [[saltExplode]]. */
  private[graft] def saltedPairs[V, O](
      rows: Dataset[(String, Long, V)], cap: Int = BucketCap, maxSalts: Int = MaxSalts)(
      pairFn: ((Long, V), (Long, V)) => Option[O])(
      implicit enc: org.apache.spark.sql.Encoder[(String, Int, Int, Long, Int, V)],
      encK: org.apache.spark.sql.Encoder[(String, Int, Int)],
      encO: org.apache.spark.sql.Encoder[O]): Dataset[O] = {
    saltExplode(rows, cap, maxSalts)
      .groupByKey { case (block, ti, tj, _, _, _) => (block, ti, tj) }
      .flatMapGroups { (key: (String, Int, Int), it: Iterator[(String, Int, Int, Long, Int, V)]) =>
        val (_, ti, tj) = key
        val members = it.map { case (_, _, _, id, u, v) => (id, u, v) }
          .toArray.sortInPlaceBy(_._1)
        // LAZY pair emission — task memory is bounded by the member
        // slice, never the pair count. The old ArrayBuffer collected
        // every surviving pair before emitting, which OOM'd the sf10
        // rehearsal: exact-copy replicas make every replica pair of a
        // colliding original pair survive (one sf0.1 pair fans out
        // ×K² at ×K scale), so a task's survivor set is corpus-scaled
        // even though its POPCOUNT work stays salt-bounded. Streaming
        // into the shuffle writer removes that term entirely.
        //
        // Hand-rolled (i, j) walk, not nested Iterator.flatMap: the
        // flatMap shape allocates an inner iterator per i and runs
        // every candidate through two levels of hasNext/next virtual
        // dispatch — at tens of millions of candidates per hot block
        // that plumbing rivals the popcounts themselves. `None` is a
        // singleton, so the Option protocol only allocates for
        // survivors.
        if (ti == tj) pairIterator(members, members, self = true, pairFn)
        else {
          // cross pairs only: side ti × side tj, lower id first
          val (si, sj) = members.partition(_._2 == ti)
          pairIterator(si, sj, self = false, pairFn)
        }
      }
  }

  /** Lazy survivor iterator over member pairs: all unordered (i<j)
    * pairs of `left` when `self`, else the `left` × `right` cross
    * product — each offered to `pairFn` with the lower id first.
    * One flat loop, one survivor buffered. */
  private def pairIterator[V, O](left: scala.collection.IndexedSeq[(Long, Int, V)],
      right: scala.collection.IndexedSeq[(Long, Int, V)], self: Boolean,
      pairFn: ((Long, V), (Long, V)) => Option[O]): Iterator[O] =
    new scala.collection.AbstractIterator[O] {
      private var i = 0
      private var j = if (self) 1 else 0
      private var pending: Option[O] = None
      private def advance(): Unit = {
        while (pending.isEmpty && i < left.length) {
          if (j >= right.length) { i += 1; j = if (self) i + 1 else 0 }
          else {
            val a = left(i); val b = right(j); j += 1
            // the compare runs in BOTH modes: self-mode callers happen
            // to pre-sort members (so a < b already holds), but the
            // lower-id-first contract must not silently depend on that
            pending =
              if (a._1 < b._1) pairFn((a._1, a._3), (b._1, b._3))
              else pairFn((b._1, b._3), (a._1, a._3))
          }
        }
      }
      override def hasNext: Boolean = { advance(); pending.nonEmpty }
      override def next(): O = {
        advance()
        val o = pending.get; pending = None; o
      }
    }

  // ---------------------------------------------------------------- exact

  /** Exact dedup: md5(text) groups; keeper = lowest doc_id.
    *
    * Reuses [[exactGroups]] (aggregate + join) rather than min/count
    * windows partitioned by the hash: a window sorts each whole md5
    * group in ONE task, so a mega-replica boilerplate text (10⁶
    * copies at 100 TB) becomes a single-task sort, while the
    * aggregate partial-combines map-side and the re-join stays
    * skew-free under AQE. Output columns are identical, so the
    * oracle (still the window-form SQL) pins the equivalence. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    exactGroups(s, dir)
      .select($"doc_id", $"rep_id".as("keeper_id"), $"grp_n".as("n_copies"))
      .orderBy($"doc_id")
  }

  val qDedupExactSql: String =
    """SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id,
      |  count(*) OVER (PARTITION BY md5(text)) AS n_copies
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- minhash

  /** word-3-shingle hash sets per doc (Spark side). */
  private def shingleSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // one native pass per doc (tokenize → incremental shingle hash →
    // distinct); equivalence to the SQL fragments pinned in
    // HashExprsSpec. Empty set ⇔ fewer than 3 words, matching the
    // oracle's len(words) >= 3 filter.
    Tables.documents(s, dir)
      .withColumn("sh_set", graft.functions.HashExprs.wordShingleHashes($"text", 3))
      .filter(size($"sh_set") >= 1)
      .select($"doc_id", $"sh_set")
  }

  private val duckShingleSets: String =
    s"""sets AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      list_transform(range(0, len(words) - 2),
       |        i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]),
       |      s -> ${duckRoll("s")})) AS sh_set
       |  FROM (
       |    SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS words
       |    FROM documents) WHERE len(words) >= 3
       |)""".stripMargin

  /** Threshold-passing MinHash pair set `(doc_a, doc_b, jac)` — the
    * shared edge set behind both the pair query and the cluster query.
    * Cached (cache entries are keyed by the canonicalized plan, so the
    * pair query, the cluster query, and repeated invocations all reuse
    * ONE bounded entry per sf dir): the cluster query previously
    * replayed this whole band-join + verify chain from scratch. */
  private[graft] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    graft.PlanCache.getOrBuild(s, Family, s"verifiedPairs:$dir")(
      verifiedPairsPlan(s, dir))

  private def verifiedPairsPlan(s: SparkSession, dir: String): DataFrame =
    verifiedPairsOver(s, graft.PlanCache.getOrBuild(s, Family, s"shingleSets:$dir")(
      shingleSets(s, dir)))

  /** The LSH band-join + exact-Jaccard-verify chain over an arbitrary
    * `(doc_id, sh_set)` frame — the whole corpus for
    * [[verifiedPairsPlan]], representatives only for
    * [[qDedupClusterRep]]. */
  private def verifiedPairsOver(s: SparkSession, sets: DataFrame): DataFrame = {
    import s.implicits._
    val sigCols = MinhashPerms.zipWithIndex.map { case (p, j) =>
      expr(sparkMinhash("sh_set", p)).as(s"sig_$j")
    }
    val sigs = sets.select(($"doc_id" +: sigCols): _*)
    val stackArgs = MinhashPerms.indices.map(j => s"$j, sig_$j").mkString(", ")
    val bands = sigs.selectExpr("doc_id",
      s"stack(${MinhashPerms.size}, $stackArgs) AS (j, sig)")
    val a = bands.select($"doc_id".as("doc_a"), $"j", $"sig")
    val b = bands.select($"doc_id".as("doc_b"), $"j", $"sig")
    val cand = a.join(b, Seq("j", "sig")).filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    val sa = sets.select($"doc_id".as("doc_a"), $"sh_set".as("set_a"))
    val sb = sets.select($"doc_id".as("doc_b"), $"sh_set".as("set_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", size(array_intersect($"set_a", $"set_b")).cast("double"))
      .withColumn("jac", $"inter" / (size($"set_a") + size($"set_b") - $"inter"))
      .filter($"jac" >= MinhashTau)
      .select($"doc_a", $"doc_b", $"jac")
  }

  /** MinHash + LSH near-dup: 4 permutations as 4 single-row bands →
    * band-equality candidate join → exact shingle-Jaccard verify. */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    verifiedPairs(s, dir)
      .select($"doc_a", $"doc_b", round($"jac", 4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** MinHash CTE chain ending in `verified` (unfiltered pairs with
    * their exact jaccard) — shared by the pair query and the
    * connected-components cluster oracle. */
  private val minhashCtes: String = {
    val sigSelects = MinhashPerms.zipWithIndex
      .map { case (p, j) => s"${duckMinhash("sh_set", p)} AS sig_$j" }.mkString(", ")
    val bandUnion = MinhashPerms.indices
      .map(j => s"SELECT doc_id, $j AS j, sig_$j AS sig FROM sigs").mkString(" UNION ALL ")
    s"""$duckShingleSets,
       |sigs AS (SELECT doc_id, $sigSelects FROM sets),
       |bands AS ($bandUnion),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.sig = b.sig AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.sh_set, sb.sh_set))::DOUBLE /
       |      (len(sa.sh_set) + len(sb.sh_set) - len(list_intersect(sa.sh_set, sb.sh_set)))::DOUBLE AS jac
       |  FROM cand
       |  JOIN sets sa ON sa.doc_id = doc_a
       |  JOIN sets sb ON sb.doc_id = doc_b
       |)""".stripMargin
  }

  val qDedupMinhashSql: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, round(jac, 4) AS jaccard
       |FROM verified WHERE jac >= $MinhashTau
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------- decontamination

  /** Benchmark decontamination: training docs sharing any word-3-
    * shingle with the held-out benchmark set (stand-in: doc_id ≡ 0
    * mod 97) are flagged with their overlap count — the exact-n-gram
    * collision pass every pretraining pipeline runs against eval
    * suites. Shape: the benchmark shingle set is tiny and broadcast;
    * candidate generation is an exploded equi-join on the shingle
    * hash + one count-distinct per doc, so the corpus never
    * self-joins. */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sets = graft.PlanCache.getOrBuild(s, Family, s"shingleSets:$dir")(
      shingleSets(s, dir))
    val benchSh = sets.filter($"doc_id" % 97 === 0)
      .select(explode($"sh_set").as("sh")).distinct()
    sets.filter($"doc_id" % 97 =!= 0)
      .select($"doc_id", explode($"sh_set").as("sh"))
      .join(broadcast(benchSh), "sh")
      .groupBy($"doc_id")
      .agg(countDistinct($"sh").as("n_shared"))
      .orderBy($"doc_id")
  }

  val qDecontaminateSql: String =
    s"""WITH $duckShingleSets,
       |bench AS (
       |  SELECT DISTINCT unnest(sh_set) AS sh FROM sets WHERE doc_id % 97 = 0
       |), hits AS (
       |  SELECT doc_id, unnest(sh_set) AS sh FROM sets WHERE doc_id % 97 <> 0
       |)
       |SELECT h.doc_id, count(DISTINCT h.sh) AS n_shared
       |FROM hits h JOIN bench b ON b.sh = h.sh
       |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin

  // ------------------------------------------------------- clustering

  /** Duplicate clusters: connected components over the MinHash
    * near-dup pair graph, labeled by the component's minimum doc_id —
    * the step that turns pairwise matches into "keep one doc per
    * cluster" decisions.
    *
    * Distributed min-label propagation: each round is one equi-join
    * (edges ⋈ labels) + a min-aggregate, and the label table is
    * `localCheckpoint`ed so lineage stays flat; initialization seeds
    * labels with min(node, min(neighbor)), which fuses the first
    * propagation round, so rounds needed = component diameter − 1
    * (near-dup clusters are near-cliques, so 1-2). The edge set is the
    * shared cached [[verifiedPairs]], not a replay of the minhash
    * chain.
    * Driver state is one `changed` counter per round — never the
    * graph. The oracle replays the closure with a recursive CTE. */
  def qDedupCluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = verifiedPairs(s, dir).select($"doc_a", $"doc_b")
    val edges = pairs.union(pairs.select($"doc_b", $"doc_a"))
      .toDF("src", "dst").cache()
    val labels = propagateMinLabels(s, edges)
    edges.unpersist(blocking = false) // labels are checkpointed; edges done
    // cluster_size via aggregate + join, NOT a count window: a window
    // partitioned by cluster_id funnels every member of a mega-cluster
    // (48k docs in one loose-threshold component at the 10× rehearsal)
    // into ONE sort task. The aggregate partial-combines map-side, its
    // output is one row per cluster (broadcast-join-sized), and the
    // probe side streams — no per-key sort anywhere.
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select($"node".as("doc_id"), $"label".as("cluster_id"), $"cluster_size")
      .orderBy($"doc_id")
  }

  /** Edge-count bound under which connected components run as ONE
    * single-task union-find instead of the iterative join loop: 5M
    * edges ≈ 80 MB of longs in the task — trivially in-memory, and
    * the entire multi-round loop (each round two joins + a
    * localCheckpoint + an accumulator read ≈ 0.8 s of pure fixed
    * overhead at ANY graph size) collapses to milliseconds. Profiled
    * r17: the loop was 4.0 s of q_dedup_cluster's 4.5 s warm cost —
    * on a 15k-pair graph. The iterative path stays for graphs past
    * the bound (a 10¹¹-edge dedup graph at 100 TB), where per-round
    * overhead amortizes against real distributed work. */
  private[graft] val LocalCcEdgeBound = 5000000L

  /** Min-label propagation over a cached symmetrized edge set:
    * returns `(node, label)` where label = min doc_id of the node's
    * connected component. Shared by [[qDedupCluster]] (full-graph
    * edges) and [[qDedupClusterRep]] (representative-graph edges).
    *
    * `localBound`: edge count at or under which the single-task
    * union-find fast path runs ([[LocalCcEdgeBound]]; tests pass -1
    * to force the iterative loop and pin both paths identical). */
  private[graft] def propagateMinLabels(
      s: SparkSession, edges0: DataFrame,
      localBound: Long = LocalCcEdgeBound): DataFrame = {
    import s.implicits._
    // the count() below (and the re-read that follows) assumes the
    // caller cached the edge frame — make that contract fail loudly
    require(edges0.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "propagateMinLabels expects a cached edge frame (callers persist before calling)")
    val edgeCount0 = edges0.count()
    if (edgeCount0 <= localBound) {
      // single-task min-label union-find — the same kernel as the
      // SemDeDup cell-local components, over the whole (small) graph
      return edges0.select($"src", $"dst").as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
            r
          }
          val nodes = scala.collection.mutable.LongMap.empty[Unit]
          it.foreach { case (a, b) =>
            // register BOTH endpoints: both current callers symmetrize
            // edges (so src covers every node), but an asymmetric
            // caller must not silently lose dst-only nodes
            nodes(a) = (); nodes(b) = ()
            val ra = find(a); val rb = find(b)
            if (ra != rb) {
              if (ra < rb) parent(rb) = ra else parent(ra) = rb
            }
          }
          nodes.keys.toArray.sorted.iterator.map(n => (n, find(n)))
        }
        .toDF("node", "label")
        // eager: callers unpersist the edge frame right after this
        // returns ("labels are checkpointed") — materialize before
        // the cache goes away so labels never replay the pair chain
        .localCheckpoint()
    }
    // SIZE the iterative frames to the edge set: every round is two
    // joins + a localCheckpoint over frames that are KBs at bench SF
    // (a few thousand pair rows), and at 32 shuffle partitions the
    // per-round cost is pure task-scheduling overhead — measured ~45%
    // of the whole cluster query. The width SCALES with the edge set
    // (one task per ~500k edges: a 10⁹-edge graph fans out to 2000
    // partitions, a 10¹¹-edge one to 20000 — the executor-count
    // ceiling of a real cluster, not a constant that silently turns
    // into 5×10⁸ edges/task) while tiny graphs run on 4.
    val nParts = math.max(4, math.min(20000, (edgeCount0 / 500000L).toInt))
    // every round's joins/aggregates inherit the session shuffle
    // width, so run the WHOLE loop on a CHILD session (shared
    // SparkContext — same executors, caches and checkpoint RDDs —
    // but its own SQLConf): the narrow width is scoped to the loop's
    // plans by construction, with no set/restore on the caller's
    // session and nothing for a concurrent query (a streaming twin,
    // a parallel test suite) to race against.
    val loopS = s.newSession()
    loopS.conf.set("spark.sql.shuffle.partitions", nParts.toString)
    val edges = loopS.createDataFrame(edges0.toDF().rdd, edges0.schema)
      .repartition(nParts, $"dst")
    // seed each node with min(node, min(neighbor)) — fuses the first
    // propagation round into initialization, so near-clique dup
    // clusters (diameter 2-3) converge in 1-2 loop rounds
    var labels = edges.groupBy($"src".as("node"))
      .agg(min($"dst").as("nbr_min0"))
      .select($"node", least($"node", $"nbr_min0").as("label"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    val maxRounds = 64
    while (changed > 0 && rounds < maxRounds) {
      val prop = edges.as("e").join(labels.as("l"), $"e.dst" === $"l.node")
        .groupBy($"e.src".as("pnode"))
        .agg(min($"l.label").as("nbr_min"))
      // the convergence check rides the checkpoint materialization as
      // an accumulator instead of a second per-round job; a task-retry
      // over-count only errs toward one extra (no-op) round, never an
      // early stop
      val acc = s.sparkContext.longAccumulator("graft_cc_changed")
      val tick = udf { (newLabel: Long, oldLabel: Long) =>
        if (newLabel < oldLabel) acc.add(1L)
        newLabel
      }
      val next = labels.as("l2").join(prop, $"l2.node" === $"pnode", "left")
        .select($"l2.node".as("node"),
          tick(least($"l2.label", coalesce($"nbr_min", $"l2.label")), $"l2.label").as("label"))
        .localCheckpoint()
      changed = acc.value
      labels = next
      rounds += 1
    }
    // fail loudly rather than return a silently-split component (a
    // chain-shaped cluster with diameter > maxRounds would otherwise
    // diverge from the oracle's exact closure)
    require(changed == 0,
      s"label propagation did not converge in $maxRounds rounds")
    // hand the result back on the CALLER's session (the final frame
    // is localCheckpoint-backed, so .rdd is the materialized blocks,
    // not a replan); downstream joins then plan with the caller's
    // own shuffle width
    s.createDataFrame(labels.toDF().rdd, labels.schema)
  }

  /** Duplicate clusters via EXACT-COLLAPSE-FIRST — the scale form of
    * [[qDedupCluster]], with byte-identical output (it shares the
    * parent's DuckDB oracle verbatim).
    *
    * The parent's LSH candidate join is quadratic in WITHIN-BUCKET
    * copies: a cluster of K byte-identical documents puts all K ids
    * in every band bucket, so candidate generation emits Θ(K²) rows
    * per original collision — the regime that made the pair-emitting
    * family quadratic-by-contract at the ×100 rehearsal (~190 M
    * surviving rows from 100-way replicas). Here byte-identical texts
    * first collapse to one representative (min doc_id per md5 group —
    * one linear window, the [[qDedupExact]] shape), the whole
    * LSH+verify+propagate chain runs on representatives only, and
    * members re-join their representative's label afterwards (one
    * linear broadcast-ish join). Pair work drops from Θ(Σ K²·e) to
    * Θ(e) over DISTINCT texts; output is unchanged because identical
    * texts have identical shingle sets — they collide in every band
    * with jac 1 ≥ τ among themselves (so a size-≥2 group with a
    * non-empty shingle set is internally connected) and behave
    * identically to their representative against every other doc (so
    * cross-component structure is exactly the quotient graph). The
    * component min-label also survives the quotient: each group's min
    * doc_id IS its representative. This is the standard production
    * ordering — exact dedup before any pairwise near-dup detector
    * (see the [[BucketCap]] note). */
  def qDedupClusterRep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = exactGroups(s, dir)
    val sets = graft.PlanCache.getOrBuild(s, Family, s"shingleSets:$dir")(
      shingleSets(s, dir))
    val reps = groups.filter($"doc_id" === $"rep_id")
      .select($"rep_id", $"grp_n")
    // the shingle chain (tokenize → shingle → collect_set) is the
    // expensive producer and the LSH+verify plan self-joins its
    // output; checkpointing the rep-only slice runs it exactly once
    // and lets selfOnly reuse the same materialization. Both the
    // slice and the LSH+verify pairs over it are PlanCache-memoized
    // per (session, dir) — the parent's verifiedPairs convention —
    // so repeated calls (bench reps) pay only propagation + the
    // quotient joins (r17: the chain was rebuilt per call, 4.3 s vs
    // the parent's post-fast-path 0.9)
    val repSets = graft.PlanCache.getOrBuild(s, Family, s"repSets:$dir")(
      sets.join(
        reps.select($"rep_id".as("doc_id")), Seq("doc_id"), "left_semi")
        .localCheckpoint())
    val repPairs = graft.PlanCache.getOrBuild(s, Family, s"repPairs:$dir")(
      verifiedPairsOver(s, repSets).select($"doc_a", $"doc_b"))
    val edges = repPairs.union(repPairs.select($"doc_b", $"doc_a"))
      .toDF("src", "dst").cache()
    val edgeLabels = propagateMinLabels(s, edges)
    // a size-≥2 group whose rep has a non-empty shingle set is
    // internally connected (jac(A,A)=1 ≥ τ through every band); if its
    // rep has no cross edge it forms its own component labeled rep_id
    val selfOnly = reps.filter($"grp_n" >= 2)
      .join(repSets.select($"doc_id".as("rep_id")), Seq("rep_id"), "left_semi")
      .join(edgeLabels.select($"node".as("rep_id")), Seq("rep_id"), "left_anti")
      .select($"rep_id".as("node"), $"rep_id".as("label"))
    val repLabels = edgeLabels.union(selfOnly)
    edges.unpersist(blocking = false)
    // cluster sizes from the QUOTIENT, not a member-level count
    // window: each rep row carries its group's member count, so
    // Σ grp_n per label over the rep-label table (one row per GROUP)
    // gives the member-level cluster size without sorting — or even
    // aggregating — the member table; the mega-cluster skew note on
    // [[qDedupCluster]] applies doubly here, since exact-collapse is
    // the form meant for replica-heavy corpora.
    val repN = groups.filter($"doc_id" === $"rep_id").select($"rep_id", $"grp_n")
    val csizes = repLabels.join(repN, repLabels("node") === repN("rep_id"))
      .groupBy($"label").agg(sum($"grp_n").as("cluster_size"))
    groups.join(repLabels, groups("rep_id") === repLabels("node"))
      .join(csizes, "label")
      .select($"doc_id", $"label".as("cluster_id"), $"cluster_size")
      .orderBy($"doc_id")
  }

  /** The exact-group quotient map `(doc_id, rep_id, grp_n)`: rep_id =
    * min doc_id of the doc's md5(text) group, grp_n = group size — the
    * shared first step of every exact-collapse-first variant
    * ([[qDedupClusterRep]], [[qDedupSubstringRep]],
    * [[qDedupSimhashRep]]).
    *
    * Projects to (doc_id, md5) BEFORE any exchange — the group key is
    * the hash, so shuffling the text bytes themselves (the dominant
    * column) would be pure waste; the inner localCheckpoint runs the
    * scan + md5 ONCE and both quotient consumers (the group aggregate
    * and the probe side of the re-join) read the slim materialized
    * pair table. Aggregate + join, NOT min/count windows partitioned
    * by h: a replicated corpus makes md5 groups arbitrarily large, and
    * a window sorts each whole group in one task while the aggregate
    * partial-combines map-side and re-joins skew-free under AQE. The
    * builder-internal checkpoint (built once per dir and JVM, under
    * the cache) then pins the quotient map for its several consumers
    * instead of re-running the join per consumer. */
  private[graft] def exactGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.PlanCache.getOrBuild(s, Family, s"exactGroups:$dir")({
      val hashes = Tables.documents(s, dir)
        .select($"doc_id", md5($"text").as("h")).localCheckpoint()
      val grpAgg = hashes.groupBy($"h")
        .agg(min($"doc_id").as("rep_id"), count(lit(1)).as("grp_n"))
      // checkpoint INSIDE the builder: the flattened lineage is built
      // once per (dir, JVM), not re-materialized on every call
      hashes.join(grpAgg, "h").select($"doc_id", $"rep_id", $"grp_n")
        .localCheckpoint()
    })
  }

  /** Min-label connected components as UNROLLED neighbor-min +
    * pointer-doubling rounds, NOT a recursive reachability closure.
    * The closure formulation (`reach(n, m)` = all reachable pairs)
    * materializes Σ|C|² rows — measured 2.3e9 at the 10× scale
    * rehearsal, where one loose-threshold component held 48 k docs —
    * while this propagation is O(E · rounds). Each round takes the
    * min over neighbors, then jumps each label to its label's label
    * (pointer doubling), so converged reach after R rounds is ≥ 2^R
    * hops: 16 rounds cover any component diameter the Spark side's
    * 64-round guard admits. Labels are always node ids, so the
    * doubling join is an inner join. If 16 rounds were NOT enough, a
    * poison row (doc_id -1) is emitted and the hash comparison fails
    * loudly instead of silently accepting split components — the SQL
    * twin of qDedupCluster's `require(changed == 0)`. */
  val qDedupClusterSql: String = {
    // every multiply-referenced CTE is MATERIALIZED: DuckDB inlines
    // plain CTEs per reference, so the doubling join (two refs per
    // round) would otherwise expand the plan 2^rounds-fold — measured
    // as "too many open files" from exponentially duplicated scans
    val rounds = 16
    val roundCtes = (0 until rounds).map { i =>
      s"""nm$i AS MATERIALIZED (
         |  SELECT e.s AS n, min(x.l) AS m FROM edges e JOIN lab$i x ON x.n = e.d GROUP BY e.s
         |), half$i AS MATERIALIZED (
         |  SELECT l.n, least(l.l, coalesce(nm.m, l.l)) AS l
         |  FROM lab$i l LEFT JOIN nm$i nm ON nm.n = l.n
         |), lab${i + 1} AS MATERIALIZED (
         |  SELECT a.n, least(a.l, b.l) AS l FROM half$i a JOIN half$i b ON b.n = a.l
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $minhashCtes,
       |dup AS (SELECT doc_a, doc_b FROM verified WHERE jac >= $MinhashTau),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS s, doc_b AS d FROM dup
       |  UNION ALL SELECT doc_b, doc_a FROM dup
       |), lab0 AS MATERIALIZED (
       |  SELECT DISTINCT s AS n, s AS l FROM edges
       |),
       |$roundCtes,
       |unconverged AS (
       |  SELECT l.n FROM lab$rounds l
       |  JOIN edges e ON e.s = l.n JOIN lab$rounds x ON x.n = e.d
       |  GROUP BY l.n, l.l HAVING min(x.l) < l.l
       |)
       |SELECT doc_id, cluster_id, cluster_size FROM (
       |  SELECT n AS doc_id, l AS cluster_id,
       |    count(*) OVER (PARTITION BY l) AS cluster_size
       |  FROM lab$rounds
       |  UNION ALL
       |  SELECT -1, -1, -1 FROM unconverged
       |) ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- simhash

  /** Per-doc 62-bit SimHash codes `(doc_id, code)`, cached per sf dir
    * — shared by the full-corpus operator and the
    * exact-collapse-first variant. */
  private[graft] def simhashCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.PlanCache.getOrBuild(s, Family, s"simhashCodes:$dir")(
      Tables.documents(s, dir)
        .withColumn("th", graft.functions.HashExprs.tokenHashes($"text"))
        .filter(size($"th") >= 1)
        .withColumn("code", graft.functions.HashExprs.simHash62($"th"))
        .select($"doc_id", $"code"))
  }

  /** 62-bit SimHash; candidates via 4 16-bit bands (pigeonhole-complete
    * for hamming ≤ 3); verify by popcount of xor. */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r18 note: a localCheckpoint before the presentation orderBy
    // (to spare the range exchange's sampling pass re-running the
    // pair kernel) was A/B'd and came out FLAT here — materializing
    // the 1.6M-pair output costs about what the popcount kernel
    // rerun costs. Kept checkpoint-free; see OPTIMIZATION_r18.md.
    simhashPairs(simhashCodes(s, dir))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The banded + skew-guarded SimHash pair kernel over an arbitrary
    * `(doc_id, code)` frame: every pair within hamming ≤
    * [[SimhashMaxHamming]], each emitted exactly once. */
  private def simhashPairs(coded: DataFrame): DataFrame = {
    val s = coded.sparkSession
    import s.implicits._
    val bandExprs = (0 until 4).map(b => s"$b, shiftright(code, ${16 * b}) & 65535").mkString(", ")
    val bands = coded.selectExpr("doc_id", "code", s"stack(4, $bandExprs) AS (b, band)")
    // Bucket-local pair generation: one shuffle of 4·N band rows, then
    // a tight xor/popcount loop per bucket that emits ONLY survivors.
    // A self-join here materializes every band collision as a joined
    // row (tens of millions at sf0.1) before the cheap hamming filter
    // can run — that row plumbing, not the popcounts, was 29s of wall.
    // Hot buckets are split by the saltedPairs skew guard, so a
    // pathological band value never pins one task on O(b²) work.
    //
    // A near-dup pair collides in SEVERAL of the 4 bands, so emitting
    // from every band needs a million-row distinct() to dedup. Both
    // codes are in hand, so each pair is emitted only from its FIRST
    // matching band (min j with band_j(xor) == 0 — pigeonhole
    // guarantees one exists when hamming ≤ 3): exactly-once without
    // any dedup shuffle.
    val rows = bands
      .select(concat_ws("|", $"b", $"band").as("block"), $"doc_id",
        struct($"b", $"code").as("payload"))
      .as[(String, Long, (Int, Long))]
    // cap 8× the default: simhash's pairFn is ONE xor+popcount, so a
    // full 8192-member task costs ~33 M popcounts (~0.1 s) while the
    // salt replication of every 1k–8k block drops from ×2–8 to ×1 —
    // at the ×100 rehearsal that replication (a ~45 B payload per
    // copy) was the disk term that ENOSPC'd the ensemble, not the
    // pair output. Output is cap-invariant by saltedPairs' contract.
    saltedPairs(rows, cap = 8192) { case ((ida, (b, ca)), (idb, (_, cb))) =>
      val xor = ca ^ cb
      val h = java.lang.Long.bitCount(xor)
      if (h > SimhashMaxHamming) None
      else {
        var first = 0
        while (((xor >>> (16 * first)) & 0xffffL) != 0L) first += 1
        if (first == b) Some((ida, idb, h)) else None
      }
    }
      .toDF("doc_a", "doc_b", "hamming")
  }

  /** SimHash near-dup via EXACT-COLLAPSE-FIRST — the scale form of
    * [[qDedupSimhash]] with byte-identical output (it shares the
    * parent's oracle verbatim, so the gate proves the equivalence).
    *
    * Identical texts have identical token multisets, hence identical
    * SimHash codes, so the [[qDedupClusterRep]] quotient argument
    * applies: run the band+popcount kernel over one representative per
    * md5(text) group, then expand — a cross-group member pair's
    * hamming is its reps' hamming (same codes), and a group's own
    * member pairs are all hamming 0 (xor = 0, emitted from band 0 in
    * the parent). The parent's kernel is quadratic in replicas (a
    * K-copy group puts K ids into every band bucket → Θ(K²) offered
    * pairs per original collision — the regime whose sf10 arithmetic
    * is 1.6e10 pairs); here kernel work returns to the distinct-text
    * corpus and the remaining quadratic is the OUTPUT, which is the
    * operator's contract. */
  def qDedupSimhashRep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = exactGroups(s, dir)
    val reps = groups.filter($"doc_id" === $"rep_id")
    // rep-only codes, checkpointed: the band kernel reads its input
    // twice (salt-count aggregate + the explode) and the within-group
    // path semi-joins it again
    def repCoded = graft.PlanCache.getOrBuild(s, Family, s"simhashRepCodes:$dir")(
      simhashCodes(s, dir).join(
        reps.select($"rep_id".as("doc_id")), Seq("doc_id"), "left_semi")
        .localCheckpoint())
    // rep-level pair kernel cached like [[verifiedPairs]] — corpus-
    // derived and query-free, so warm calls pay only the expansion
    val repPairs = graft.PlanCache.getOrBuild(s, Family, s"simhashRepPairs:$dir")(
      simhashPairs(repCoded)
        .select($"doc_a".as("rep_a"), $"doc_b".as("rep_b"), $"hamming"))
    // quotient expansion: every member pair across two colliding
    // groups inherits the rep pair's hamming; member ids interleave
    // across groups, so the lower-id-first contract is re-established
    // per pair
    val cross = repPairs
      .join(groups.select($"rep_id".as("rep_a"), $"doc_id".as("m_a")), "rep_a")
      .join(groups.select($"rep_id".as("rep_b"), $"doc_id".as("m_b")), "rep_b")
      .select(least($"m_a", $"m_b").as("doc_a"),
        greatest($"m_a", $"m_b").as("doc_b"), $"hamming")
    // a size-≥2 group with a tokenizable text is all mutual hamming-0
    // pairs; the skew guard bounds per-task work on mega-groups
    val withinRows = groups.filter($"grp_n" >= 2)
      .join(repCoded.select($"doc_id".as("rep_id")), Seq("rep_id"), "left_semi")
      .select($"rep_id".cast("string").as("block"), $"doc_id", lit(0).as("z"))
      .as[(String, Long, Int)]
    val within = saltedPairs(withinRows) { case ((ida, _), (idb, _)) =>
      Some((ida, idb, 0))
    }.toDF("doc_a", "doc_b", "hamming")
    cross.union(within).orderBy($"doc_a", $"doc_b")
  }

  val qDedupSimhashSql: String = {
    val bandUnion = (0 until 4)
      .map(b => s"SELECT doc_id, code, $b AS b, (code >> ${16 * b}) & 65535 AS band FROM coded")
      .mkString(" UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS words
       |  FROM documents
       |), th AS (
       |  SELECT doc_id, list_transform(words, w -> ${duckRoll("w")}) AS th
       |  FROM toks WHERE len(words) >= 1
       |), coded AS (
       |  SELECT doc_id, ${duckSimhash("th")} AS code FROM th
       |), bands AS ($bandUnion),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.code, b.code)) AS INTEGER) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.band = b.band AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= $SimhashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- n-gram jaccard

  /** Exact char-3-gram Jaccard within (lang, length-bucket) blocks.
    *
    * Each doc's gram set is sorted ONCE in the projection; pair
    * verification is then a linear two-pointer merge
    * ([[graft.functions.SetExprs.sortedIntersectCount]]) instead of a
    * per-pair hash build — the dominant cost at sf0.1 dropped ~10×. */
  def qDedupJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // lazy checkpoint before the presentation orderBy (r18; lazy since
    // r19 so plan-only construction — explain, PlanSpec — stays free):
    // the range exchange's sampling pass re-ran the two-pointer
    // gram-merge kernel — see qDedupSimhash for the probe numbers.
    // First action materializes the output-sized pair table once; the
    // sampling pass and the final sort both read the persisted blocks.
    jaccardPairsPlan(s, dir).localCheckpoint(eager = false)
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[qDedupJaccard]]'s verified-pair chain up to (but excluding) the
    * output-sized checkpoint + presentation sort — split out so
    * PlanSpec and ExplainDump can pin/dump the kernel chain the
    * checkpoint truncates out of the public plan. */
  private[graft] def jaccardPairsPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // sorted gram arrays are the dominant projection cost; cached per
    // sf dir (plan-keyed) like the minhash shingle sets so repeated
    // bench reps / composed queries don't re-tokenize the corpus
    // packed-long grams (CharNGramsPacked): 8 B per gram through the
    // skew-guard shuffle instead of a UTF8String, one long compare
    // per merge step instead of a byte-wise scan — order-isomorphic
    // to the string form by construction, so intersection counts and
    // the emitted pair set are byte-identical (oracle-verified)
    val grams = graft.PlanCache.getOrBuild(s, Family, s"jaccardGrams:$dir")(
      Tables.documents(s, dir)
        .filter(length($"text") >= 3)
        .withColumn("bucket", floor($"n_chars" / 100).cast("long"))
        .withColumn("g3", graft.functions.HashExprs.charNGramsPacked($"text", 3))
        .select($"doc_id", $"lang", $"bucket", $"g3", size($"g3").as("ng")))
    // Block-nested-loop within each (lang, bucket) block: each doc's
    // sorted gram set crosses the shuffle ONCE; pair verification is a
    // local two-pointer merge, and only pairs over the threshold leave
    // the task. A self-join would copy both ~300-string arrays into
    // every candidate row first. Oversized blocks are salted by the
    // saltedPairs skew guard so per-task work stays bounded.
    val rows = grams.select(concat_ws("|", $"lang", $"bucket").as("block"), $"doc_id", $"g3")
      .as[(String, Long, Array[Long])]
    saltedPairs(rows) { case ((ida, ga), (idb, gb)) =>
      // exact upper bound before any merging: |A∩B| ≤ min(|A|,|B|) and
      // |A∪B| ≥ max(|A|,|B|), so jac ≤ min/max — a pair whose gram
      // counts already rule out the threshold never runs the merge.
      // (Length-bucketing blocks by RAW chars; distinct-gram counts
      // still vary within a bucket, so this prunes real work on
      // organic corpora. Output is unchanged by construction.)
      val mn = math.min(ga.length, gb.length)
      val mx = math.max(ga.length, gb.length)
      if (mn.toDouble < JaccardTau * mx) None
      else {
        var x = 0; var y = 0; var inter = 0
        var live = true
        while (live && x < ga.length && y < gb.length) {
          // packed grams sort numerically == code-point-lexicographic
          // (CharNGramsPacked is order-isomorphic to the string form)
          val c = java.lang.Long.compare(ga(x), gb(y))
          if (c == 0) { inter += 1; x += 1; y += 1 }
          else if (c < 0) x += 1
          else y += 1
          // abandon the merge once even matching every remaining
          // element of the shorter side cannot reach the threshold
          val interMax = inter + math.min(ga.length - x, gb.length - y)
          if (interMax.toDouble < JaccardTau * (ga.length + gb.length - interMax))
            live = false
        }
        if (!live) None
        else {
          val jac = inter.toDouble / (ga.length + gb.length - inter)
          if (jac >= JaccardTau) Some((ida, idb, jac)) else None
        }
      }
    }
      .toDF("doc_a", "doc_b", "jac")
      .select($"doc_a", $"doc_b", round($"jac", 4).as("jaccard"))
  }

  // Intersections via exploded gram equi-join + count, not per-pair
  // list_intersect over a blocked self-join: the list_intersect form is
  // O(candidate pairs × gram-list length) on one thread per pair and
  // never finished the sf1 rehearsal (59 M candidate pairs); this form
  // is a hash join + group-by DuckDB vectorizes across cores (~12 min
  // at sf1). Integer counts in, same doubles out — value-identical at
  // sf0.01/sf0.1 (checked against the old formulation directly).
  val qDedupJaccardSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
       |    list_distinct(list_transform(range(1, length(text) - 1),
       |      i -> substring(text, i, 3))) AS g3
       |  FROM documents WHERE length(text) >= 3
       |), ex AS (
       |  SELECT doc_id, lang, bucket, unnest(g3) AS g FROM grams
       |), inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM ex a JOIN ex b
       |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.g = b.g
       |       AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), sizes AS (
       |  SELECT doc_id, len(g3) AS sz FROM grams
       |), pairs AS (
       |  SELECT doc_a, doc_b, c::DOUBLE / (sa.sz + sb.sz - c)::DOUBLE AS jac
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |)
       |SELECT doc_a, doc_b, round(jac, 4) AS jaccard
       |FROM pairs WHERE jac >= $JaccardTau
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- embedding

  /** Embedding-cosine near-dup blocked on the 6-plane LSH bucket (the
    * same deterministic hyperplane family as q_lsh_bucket / q_knn_lsh)
    * with exact cosine verification inside each bucket.
    *
    * Blocking on the hash of the vector itself — instead of a fixed-
    * cardinality metadata column like `label` — is what makes this
    * scale: bucket count grows with the plane budget, so candidate
    * pairs stay O(n²/2^planes) per bucket rather than quadratic in the
    * corpus, and genuinely similar vectors still collide because the
    * hyperplane hash is locality-sensitive for cosine. */
  def qDedupEmbed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE scan through the saltedPairs skew guard (same as simhash /
    // jaccard) instead of a raw bucket self-join: the join shape
    // materialized every collision as a row carrying BOTH 64-float
    // vectors before the cosine filter ran — the module's documented
    // row-plumbing pathology — and re-evaluated the 6-plane LSH hash
    // on each join side; a hot bucket pinned one task on O(b²) wide
    // rows. The emitted pair set is provably unchanged (saltExplode),
    // and the JVM cosine accumulates dot/nx/ny left-to-right in
    // doubles — the same direct-similarity arithmetic as the oracle's
    // list_cosine_similarity (the previous 1-(1-c) expression plan
    // could differ from the direct form by an ulp at a round()/tau
    // boundary; this form is the one the oracle replays).
    // squared norms ride WITH the vectors (r19): nx/ny are per-vector
    // invariants the pair kernel recomputed O(bucket size) times each
    // — at ×10 data the quadratic candidate count made that 2/3 of
    // the kernel's flops (dot+nx+ny fused = 6 flops/elem vs dot's 2).
    // Each accumulator's additions keep their own left-to-right
    // order, so the doubles — and the emitted pair set — are
    // bit-identical to the fused form (all embeddings share one dim;
    // DedupSemanticsSpec pins the outputs).
    val rows = Tables.embeddings(s, dir)
      .withColumn("bucket", graft.functions.VectorExprs.lshBucket($"embedding", 6))
      .select($"bucket".cast("string").as("block"), $"vec_id", $"embedding")
      .as[(String, Long, Array[Float])]
      .map { case (b, id, v) =>
        var nx = 0.0; var i = 0
        while (i < v.length) { val xi = v(i).toDouble; nx += xi * xi; i += 1 }
        (b, id, (v, nx))
      }
    saltedPairs(rows) { case ((ida, (va, nx)), (idb, (vb, ny))) =>
      var dot = 0.0; var i = 0
      val n = math.min(va.length, vb.length)
      while (i < n) { dot += va(i).toDouble * vb(i).toDouble; i += 1 }
      val sim = if (nx == 0.0 || ny == 0.0) 0.0
        else dot / (math.sqrt(nx) * math.sqrt(ny))
      if (sim >= CosineTau) Some((ida, idb, sim)) else None
    }
      .toDF("id_a", "id_b", "sim")
      .select($"id_a", $"id_b", round($"sim", 4).as("cos_sim"))
      .orderBy($"id_a", $"id_b")
  }

  val qDedupEmbedSql: String =
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding, ${VectorQueries.duckLshBucketN(6)} AS bucket
       |  FROM embeddings
       |)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                               CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
       |FROM bucketed a JOIN bucketed b
       |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |                             CAST(b.embedding AS DOUBLE[])) >= $CosineTau
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------- substring

  /** Exact-substring window length: pairs share at least one exact
    * run of this many characters (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * criterion; their 50-token threshold maps to a character window
    * here). */
  private val SubstrWindow = 40

  /** Exact-substring dedup: every document pair sharing at least one
    * exact [[SubstrWindow]]-character substring, with the count of
    * distinct shared windows — the ExactSubstr criterion of Lee et
    * al. 2021 (the C4/Pile cleanup), the dedup form that catches
    * quote/boilerplate reuse MinHash's whole-document similarity
    * dilutes away.
    *
    * Shape: one pruned scan → per-document sliding windows (an
    * explode, linear in total characters) → 60-bit window keys
    * (md5 prefix parsed to a LONG — 8 B through every exchange, the
    * packed-gram lesson; the DuckDB oracle computes THE SAME key, so
    * parity is exact by construction and a key collision — expected
    * ~1e-6 at a million windows — would hit both sides identically)
    * → DISTINCT (doc, key) → shared keys only (one count-window
    * partitioned by key: almost every window is unique to its
    * document, and running the pair kernel over millions of singleton
    * blocks was 7.8 s of wall at sf0.1 before this filter; counted by
    * aggregate + join, NOT a count window — a boilerplate window held
    * by millions of docs is the expected hot key, and a window sorts
    * the whole key group in one task while the aggregate
    * partial-combines map-side, the same shape the rep form below
    * always used) → the
    * [[saltedPairs]] skew guard over the shared blocks (a boilerplate
    * window held by thousands of docs is the expected hot block) →
    * pair count = distinct shared windows. The shared-window table is
    * corpus-derived and query-free, so it rides [[graft.PlanCache]]
    * like the jaccard gram table (build-once/query-many). */
  def qDedupSubstring(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // checkpoint the aggregated pairs BEFORE the presentation orderBy
    // (r18, the q_dedup_jaccard fix): the range exchange SAMPLES its
    // child to pick split points, so without it the whole pair kernel
    // + aggregate re-ran once more per evaluation. The survivor table
    // is output-sized (tens of pairs at sf0.01), so materializing it
    // costs nothing next to the kernel rerun it spares. Lazy since
    // r19: plan-only construction (explain, PlanSpec) stays free; the
    // first action materializes once and both passes read the blocks.
    substringPairsPlan(s, dir).localCheckpoint(eager = false)
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[qDedupSubstring]]'s pair chain up to (but excluding) the
    * output-sized checkpoint + presentation sort — split out so
    * PlanSpec can keep pinning the chain's shape (pruned scan, salted
    * kernel, aggregate+join shared-key filter, exchange reuse), which
    * the checkpoint otherwise truncates out of the public plan. */
  private[graft] def substringPairsPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shared = graft.PlanCache.getOrBuild(s, Family, s"substrShared:$dir")({
      val keys = windowKeys(Tables.documents(s, dir))
      val sharedKeys = keys.groupBy($"h").agg(count(lit(1)).as("n"))
        .filter($"n" >= 2).select($"h")
      keys.join(sharedKeys, "h")
        .select($"h".cast("string").as("block"), $"doc_id")
        .as[(String, Long)]
    })
    val rows = shared.map { case (b, id) => (b, id, 0) }
    saltedPairs(rows) { case ((ida, _), (idb, _)) => Some((ida, idb)) }
      .toDF("doc_a", "doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Distinct `(doc_id, h)` 60-bit window keys of every
    * [[SubstrWindow]]-char sliding window — shared by the full-corpus
    * operator and the exact-collapse-first variant. r18: the native
    * [[graft.functions.SubstrWindowKeys]] walk (one text encoding,
    * one reused digest, in-walk dedup) replaces the
    * explode(sequence) chain — which carried the text through the
    * Generate and paid a substring slice + a 32-char md5 hex string +
    * a conv parse PER POSITION — and the per-doc DISTINCT exchange
    * that followed. Keys are bit-identical to the SQL spelling
    * (StreamingSpec pins it), so the oracle's collision behavior is
    * untouched. */
  private def windowKeys(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", explode(graft.functions.HashExprs
        .substrWindowKeys($"text", SubstrWindow)).as("h"))
  }

  /** ExactSubstr pairs via EXACT-COLLAPSE-FIRST — the scale form of
    * [[qDedupSubstring]] with byte-identical output (it shares the
    * parent's oracle verbatim, so the gate proves the equivalence).
    *
    * The parent is quadratic in byte-identical replicas twice over: a
    * K-copy group replicates every window key K× through the explode
    * and the shuffle, and each colliding original pair fans out ×K²
    * in the kernel — 7.0e9 pair emissions at the ×100 rehearsal.
    * Identical texts have IDENTICAL window-key sets, so the
    * [[qDedupClusterRep]] quotient argument applies verbatim: run the
    * whole window→shared-key→pair chain over one representative per
    * md5(text) group, then expand. A cross-group member pair's shared
    * count is its reps' count (keys(member) == keys(rep), and every
    * intersection key is held by ≥2 reps, so the rep-level shared-key
    * filter loses nothing); a group's own member pairs share ALL the
    * text's distinct windows (both identical sides hold every key),
    * so their count is the rep's distinct-window total, read from the
    * same materialized key table. Kernel work returns to the
    * distinct-text corpus; the quadratic that remains is the OUTPUT,
    * which is the operator's contract. */
  def qDedupSubstringRep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // output-sized lazy checkpoint before the presentation orderBy —
    // same rationale as [[qDedupSubstring]]
    substringRepPairsPlan(s, dir).localCheckpoint(eager = false)
      .orderBy($"doc_a", $"doc_b")
  }

  /** [[qDedupSubstringRep]]'s pair chain up to (but excluding) the
    * checkpoint + presentation sort — split out for PlanSpec /
    * ExplainDump like [[substringPairsPlan]]. */
  private[graft] def substringRepPairsPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = exactGroups(s, dir)
    val reps = groups.filter($"doc_id" === $"rep_id")
    // rep-only window keys, checkpointed: three consumers (per-rep
    // totals, the shared-key aggregate, the kernel's probe side) read
    // one materialization of the expensive md5-explode chain
    def repKeys = graft.PlanCache.getOrBuild(s, Family, s"substrRepKeys:$dir")(
      windowKeys(Tables.documents(s, dir).join(
        reps.select($"rep_id".as("doc_id")), Seq("doc_id"), "left_semi"))
        .localCheckpoint())
    // distinct-window totals per rep — the within-group pair count.
    // Cached like the kernel: corpus-derived and query-free.
    val nwin = graft.PlanCache.getOrBuild(s, Family, s"substrRepNwin:$dir")(
      repKeys.groupBy($"doc_id").agg(count(lit(1)).as("nw")))
    // the whole rep-level pair kernel rides PlanCache exactly like
    // [[verifiedPairs]] (build once, query many): shared keys among
    // reps via aggregate + join (not a count window — boilerplate keys
    // are the hot-key case by construction), then the skew-guarded
    // pair walk
    val repPairs = graft.PlanCache.getOrBuild(s, Family, s"substrRepPairs:$dir")({
      val keyCounts = repKeys.groupBy($"h").agg(count(lit(1)).as("n"))
        .filter($"n" >= 2).select($"h")
      val shared = repKeys.join(keyCounts, "h")
        .select($"h".cast("string").as("block"), $"doc_id")
        .as[(String, Long)]
      saltedPairs(shared.map { case (b, id) => (b, id, 0) }) {
        case ((ida, _), (idb, _)) => Some((ida, idb))
      }
        .toDF("rep_a", "rep_b")
        .groupBy($"rep_a", $"rep_b").agg(count(lit(1)).as("n_shared"))
    })
    val cross = repPairs
      .join(groups.select($"rep_id".as("rep_a"), $"doc_id".as("m_a")), "rep_a")
      .join(groups.select($"rep_id".as("rep_b"), $"doc_id".as("m_b")), "rep_b")
      .select(least($"m_a", $"m_b").as("doc_a"),
        greatest($"m_a", $"m_b").as("doc_b"), $"n_shared")
    val withinRows = groups.filter($"grp_n" >= 2)
      .join(nwin.select($"doc_id".as("rep_id"), $"nw"), "rep_id")
      .select($"rep_id".cast("string").as("block"), $"doc_id", $"nw")
      .as[(String, Long, Long)]
    val within = saltedPairs(withinRows) { case ((ida, nw), (idb, _)) =>
      Some((ida, idb, nw))
    }.toDF("doc_a", "doc_b", "n_shared")
    cross.union(within)
  }

  /** The batch operator's 60-bit window key, computed JVM-side for
    * the streaming twin ([[graft.streaming.StreamOps.streamingSubstringDedup]]):
    * distinct keys of every [[SubstrWindow]]-CODEPOINT sliding window
    * of `text`, in first-occurrence order. Value-identical to the
    * batch expression `conv(substring(md5(substring(text, i, W)), 1,
    * 15), 16, 10)` — Spark's `substring` counts code points and its
    * `md5` hashes UTF-8 bytes, so the walk here is codepoint-offset
    * based and the key is the md5's first 15 hex nibbles as an
    * integer (StreamingSpec pins the equality on real corpus text). */
  private[graft] def substringWindowKeys(text: String): Array[Long] =
    // the walk lives in graft.functions.Md5WindowKeys (r18) so the
    // batch expressions share it; contract and values unchanged —
    // StreamingSpec still pins equality against the SQL spelling
    graft.functions.Md5WindowKeys.distinctFirstOccurrence(text, SubstrWindow)

  /** Occurrence-rank encoding for the cut-list keeper rule: (doc_id,
    * pos) packs into one BIGINT so "first occurrence wins" is a plain
    * min aggregate in both engines. Bounds the document length at
    * 2^20 chars (1 MiB of text — an order of magnitude above any
    * pretraining doc after length filtering) and doc_id at 2^43. */
  private val PosBound = 1L << 20

  /** ExactSubstr EDIT output — the per-document cut list the shared-
    * window pair evidence feeds (Lee et al. 2021 §3: of every set of
    * byte-identical [[SubstrWindow]]-char spans, keep ONE occurrence
    * and remove the rest). Deterministic keeper rule: the occurrence
    * with the smallest (doc_id, pos) survives; every other occurrence
    * of a duplicated window is marked, and a doc's marked [pos,
    * pos+W−1] spans merge into maximal runs (overlapping OR exactly
    * adjacent) — the `(doc_id, cut_start, cut_end, n_chars_cut)` rows
    * a rewrite pass would apply.
    *
    * Scale shape: the occurrence table is linear in corpus characters
    * (same explode as [[qDedupSubstring]], positions kept); the
    * keeper is one map-side-combined min/count aggregate per key
    * joined back (no per-key window — boilerplate keys are the hot
    * case); the island merge runs in per-DOCUMENT windows, bounded by
    * one document's length, the one partition key that cannot skew
    * past its own text. */
  def qDedupCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = SubstrWindow
    // the cut-occurrence table is corpus-derived and query-free, so it
    // rides PlanCache like substrShared: the md5-explode (the corpus's
    // every window, the dominant cost) and the keeper aggregate run
    // once per (dir, JVM); the per-doc island merge below is the only
    // per-call work. The occurrence frame is checkpointed INSIDE the
    // builder — the keeper aggregate and the probe side of the re-join
    // both read one materialization instead of re-hashing the corpus.
    val cuts = graft.PlanCache.getOrBuild(s, Family, s"substrCuts:$dir")({
      // fail LOUDLY if the (doc_id, pos) packing below would collide:
      // a doc longer than PosBound chars (or doc_id ≥ 2^43) would
      // silently spill its positions into the next doc_id's key range
      // and corrupt the first-occurrence-wins min. The check rides the
      // same scan (one codegen'd branch per doc, no extra job) and is
      // mirrored in qDedupCutsSql.
      // r18: the per-position keys come from the native
      // SubstrWindowKeyArray walk (posexplode index + 1 == the old
      // sequence's 1-based i) — same bit-identical md5-prefix keys,
      // no per-window substring/hex/conv chain, text no longer
      // carried through the Generate
      val occ = Tables.documents(s, dir)
        .filter(length($"text") >= W)
        .select($"doc_id",
          posexplode(graft.functions.HashExprs.substrWindowKeyArray(
            when(length($"text") < PosBound.toInt && $"doc_id" < (1L << 43),
              $"text").otherwise(raise_error(format_string(
                s"qDedupCuts: doc_id %d (len %d) exceeds the packing bounds " +
                  s"(len < $PosBound, doc_id < 2^43)",
                $"doc_id", length($"text")))), W)))
        .select($"doc_id", ($"pos" + 1).cast("long").as("pos"), $"col".as("h"))
        .withColumn("k", $"doc_id" * PosBound + $"pos")
        .localCheckpoint()
      val dupMin = occ.groupBy($"h")
        .agg(count(lit(1)).as("n"), min($"k").as("kmin"))
        .filter($"n" >= 2)
        .select($"h", $"kmin")
      occ.join(dupMin, "h").filter($"k" > $"kmin")
        .select($"doc_id", $"pos".as("s"), ($"pos" + (W - 1)).as("e"))
    })
    val ord = Window.partitionBy($"doc_id").orderBy($"s")
    val marked = cuts
      .withColumn("pmax",
        max($"e").over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when($"pmax".isNull || $"s" > $"pmax" + 1, 1L).otherwise(0L))
    marked
      .withColumn("g",
        sum($"brk").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"g")
      .agg(min($"s").as("cut_start"), max($"e").as("cut_end"))
      .select($"doc_id", $"cut_start", $"cut_end",
        ($"cut_end" - $"cut_start" + 1).as("n_chars_cut"))
      .orderBy($"doc_id", $"cut_start")
  }

  val qDedupCutsSql: String = {
    val W = SubstrWindow
    s"""WITH occ AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    CAST(('0x' ||
       |      substr(md5(substr(text, CAST(i AS INTEGER), $W)), 1, 15)) AS BIGINT) AS h,
       |    doc_id * $PosBound + CAST(i AS BIGINT) AS k
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN length(text) < $PosBound AND doc_id < ${1L << 43}
       |        THEN text ELSE error('qDedupCuts: packing bounds exceeded')
       |      END AS text,
       |      unnest(generate_series(1, length(text) - ${W - 1})) AS i
       |    FROM documents WHERE length(text) >= $W
       |  )
       |), dupmin AS (
       |  SELECT h, min(k) AS kmin FROM occ GROUP BY h HAVING count(*) >= 2
       |), cuts AS (
       |  SELECT o.doc_id, o.pos AS s, o.pos + ${W - 1} AS e
       |  FROM occ o JOIN dupmin d ON d.h = o.h AND o.k > d.kmin
       |), marked AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -$PosBound) + 1
       |    THEN 1 ELSE 0 END AS brk
       |  FROM cuts
       |), grp AS (
       |  SELECT doc_id, s, e,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s
       |      ROWS UNBOUNDED PRECEDING) AS g
       |  FROM marked
       |)
       |SELECT doc_id, min(s) AS cut_start, max(e) AS cut_end,
       |  max(e) - min(s) + 1 AS n_chars_cut
       |FROM grp GROUP BY doc_id, g
       |ORDER BY doc_id, cut_start""".stripMargin
  }

  val qDedupSubstringSql: String = {
    val W = SubstrWindow
    // the same 60-bit key as the Spark side: first 15 hex chars of
    // the window md5, parsed as an integer — parity by construction
    s"""WITH w AS (
       |  SELECT DISTINCT doc_id, CAST(('0x' ||
       |    substr(md5(substr(text, CAST(i AS INTEGER), $W)), 1, 15)) AS BIGINT) AS h
       |  FROM (
       |    SELECT doc_id, text,
       |      unnest(generate_series(1, length(text) - ${W - 1})) AS i
       |    FROM documents WHERE length(text) >= $W
       |  )
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  count(*) AS n_shared
       |FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------- warmup

  /** Untimed bench warmup: materializes the shared cached inputs (the
    * shingle sets and the verified minhash pair set) so first-touch
    * cost — parquet footer reads, codegen, cache fill — lands here
    * instead of being charged to whichever dedup query happens to run
    * first (alphabetically q_dedup_cluster, which made it read 5×
    * its warm cost in BENCH_r03). */
  def warm(s: SparkSession, dir: String): Unit =
    verifiedPairs(s, dir).queryExecution.toRdd.count(): Unit

  /** Drop every dedup cache (shingle sets, verified pairs, simhash
    * codes, jaccard grams) — the bench calls this once the family's
    * reps complete so later allocation-heavy families run against a
    * drained storage pool instead of GC-thrashing over pinned blocks
    * (the BENCH_r06 ensemble collapse). */
  // ------------------------------------------------ semantic (SemDeDup)

  private[graft] val SemTau = 0.3

  /** Cosine similarity, double left-to-right — the exact arithmetic
    * DuckDB's `list_cosine_similarity` replays (the [[qDedupEmbed]]
    * parity form). Zero-norm → 0.0. */
  private[graft] def cosineSim(va: Array[Float], vb: Array[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    val n = math.min(va.length, vb.length)
    while (i < n) {
      val xi = va(i).toDouble; val yi = vb(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** `q_dedup_semantic` — SemDeDup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster the embedding space,
    * call any within-cluster pair with cosine ≥ τ a semantic
    * duplicate, and keep ONE member per duplicate group — the paper's
    * rule keeps the member with the LOWEST cosine to its cluster
    * centroid (the most atypical copy, preserving diversity).
    * Clusters are the deterministic IVF seed cells
    * ([[VectorQueries.ivfAssign]]; at 100 TB the centroids come from
    * sampled k-means — the assignment join is the same shape), so the
    * whole chain — assign → within-cell pairs → connected components
    * → keep rule — is replayed exactly by the DuckDB oracle.
    *
    * Scale shape: the only all-pairs surface is WITHIN a cell —
    * SemDeDup's clustering exists precisely to make web-scale dedup
    * sub-quadratic — and because components cannot span cells, the
    * pair scan AND the connected components run in ONE cell-local
    * task (groupByKey + per-cell min-label union-find: no iterative
    * driver loop, no pair shuffle; cell size is the bound, capacity-
    * capped kmeans cells at 100 TB). The keep rule is one map-side-
    * combined aggregate re-joined broadcast-sized. Output: one row
    * per member of a duplicate group with group id/size, centroid
    * cosine, keep flag. */
  /** The cell-local pair-scan + min-label union-find kernel shared by
    * [[qDedupSemantic]] (deterministic seed cells) and
    * [[semDeDupCapped]] (trained capacity-capped cells): ONE task per
    * cell scans its own pairs and unions its own components — cell
    * size is the only work bound, which is exactly the bound the
    * clustering/capping stage exists to enforce.
    *
    * r18: the keep rule's centroid cosine is computed HERE, inside the
    * cell task, from the broadcast centroid table (`parentOf` maps the
    * grouping key to its centroid cell — identity for seed cells,
    * sub-shard/split for capped cells). The old shape re-joined the
    * label output back onto the (vec_id, cell, embedding) assignment,
    * which re-evaluated the whole assignment subtree a second time and
    * paid a SortMergeJoin + mapPartitions pass for values the task
    * already held in memory. Emits one row per member of a ≥2-member
    * duplicate group: `(vec_id, group_id, c_sim, csim4)` where
    * group_id = min member id, c_sim = rint(cos·1e4)/1e4 and csim4 =
    * the same rounded cosine as an exact scaled long (for the
    * fixed-width argmin packing in the keep aggregate — vec_ids must
    * fit 44 bits, checked per member). */
  private def cellComponents(
      av: org.apache.spark.sql.Dataset[(Int, Long, Array[Float])],
      tau: Double,
      cents: org.apache.spark.broadcast.Broadcast[Map[Int, Array[Float]]],
      parentOf: Int => Int): DataFrame = {
    val s = av.sparkSession
    import s.implicits._
    av.groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val members = it.map { case (_, id, v) => (id, v) }
          .toArray.sortInPlaceBy(_._1)
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        val inPair = scala.collection.mutable.LongMap.empty[Unit]
        var i = 0
        while (i < members.length - 1) {
          var j = i + 1
          while (j < members.length) {
            if (cosineSim(members(i)._2, members(j)._2) >= tau) {
              val a = members(i)._1; val b = members(j)._1
              inPair(a) = (); inPair(b) = ()
              val ra = find(a); val rb = find(b)
              if (ra != rb) {
                if (ra < rb) parent(rb) = ra else parent(ra) = rb
              }
            }
            j += 1
          }
          i += 1
        }
        val cv = cents.value(parentOf(cell))
        val vmap = scala.collection.mutable.LongMap.empty[Array[Float]]
        members.foreach { case (id, v) =>
          if (inPair.contains(id)) vmap(id) = v }
        inPair.keys.toArray.sorted.iterator.map { k =>
          require((k >>> 44) == 0L,
            s"vec_id $k exceeds the 44-bit keep-rule packing range")
          val csim4 = math.rint(cosineSim(vmap(k), cv) * 1e4)
          (k, find(k), csim4 / 1e4, csim4.toLong)
        }
      }
      .toDF("vec_id", "group_id", "c_sim", "csim4")
  }

  /** Keep rule shared by [[qDedupSemantic]] and [[semDeDupCapped]]:
    * group size plus argmin-by-(c_sim, vec_id) via a fixed-width
    * packed long — (csim4+10000)·2⁴⁴ + vec_id is order-isomorphic to
    * the (c_sim, vec_id) lexicographic order (csim4 is the exact
    * scaled cosine, vec_id < 2⁴⁴ checked at emission), so min(packed)
    * is the keeper and the aggregate stays a HashAggregate — the
    * min(struct(…)) form's immutable buffer demoted it to
    * SortAggregate. */
  private def keepRule(members: DataFrame): DataFrame = {
    val s = members.sparkSession
    import s.implicits._
    val grp = members.groupBy($"group_id")
      .agg(count(lit(1)).as("group_n"),
        min(($"csim4" + 10000L) * lit(1L << 44) + $"vec_id").as("k"))
      .select($"group_id", $"group_n",
        $"k".bitwiseAND(lit((1L << 44) - 1)).as("keep_id"))
    members.join(broadcast(grp), "group_id")
      .select($"vec_id", $"group_id", $"group_n", $"c_sim",
        when($"vec_id" === $"keep_id", 1).otherwise(0).as("keep"))
      .orderBy($"vec_id")
  }

  def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val av = emb.join(VectorQueries.ivfAssign(s, dir), "vec_id")
    // Components NEVER span cells (pairs are within-cell by
    // construction), so the whole pairs → connected-components chain
    // is CELL-LOCAL: one groupByKey(cell) task runs the pair scan AND
    // a min-label union-find over its own slice — no global iterative
    // propagation (whose per-round driver barrier + localCheckpoint
    // is the dedup-cluster family's cost floor), no pair
    // materialization into a shuffle. Task memory/work is bounded by
    // the cell — which is exactly the bound SemDeDup's clustering
    // stage exists to create (capacity-capped kmeans cells at 100 TB,
    // the buildCapped contract).
    //
    // Centroid cosine of every duplicate-group member (centroid = its
    // cell's seed vector — NCELLS×dim floats, broadcast) is computed
    // INSIDE the cell task (r18): the old label→assignment re-join
    // re-evaluated the whole scan+assign subtree a second time and
    // paid a SortMergeJoin for values the task already held.
    val cents = Tables.embeddings(s, dir)
      .filter($"vec_id" < VectorQueries.NCELLS)
      .select($"vec_id".cast("int"), $"embedding")
      .as[(Int, Array[Float])].collect().toMap
    val bcC = s.sparkContext.broadcast(cents)
    // members is read twice (keep-rule aggregate + final join) and is
    // duplicate-group members only — checkpoint the one expensive
    // chain instead of running assign+pair-scan twice
    val members = cellComponents(
      av.select($"cell", $"vec_id", $"embedding")
        .as[(Int, Long, Array[Float])], SemTau, bcC, identity)
      .localCheckpoint()
    keepRule(members)
  }

  /** DuckDB replay of [[qDedupSemantic]] — IVF assignment (the
    * q_ivf_assign rule), within-cell cosine pairs, min-label
    * components as 8 materialized pointer-doubling rounds (reach 2⁸ ≥
    * any within-cell component diameter; poison row on
    * non-convergence, the [[qDedupClusterSql]] convention), then the
    * lowest-centroid-cosine keep rule. */
  val qDedupSemanticSql: String = {
    val rounds = 8
    val roundCtes = (0 until rounds).map { i =>
      s"""nm$i AS MATERIALIZED (
         |  SELECT e.s AS n, min(x.l) AS m FROM edges e JOIN lab$i x ON x.n = e.d GROUP BY e.s
         |), half$i AS MATERIALIZED (
         |  SELECT l.n, least(l.l, coalesce(nm.m, l.l)) AS l
         |  FROM lab$i l LEFT JOIN nm$i nm ON nm.n = l.n
         |), lab${i + 1} AS MATERIALIZED (
         |  SELECT a.n, least(a.l, b.l) AS l FROM half$i a JOIN half$i b ON b.n = a.l
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH cents AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cell, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings WHERE vec_id < ${VectorQueries.NCELLS}
       |), dct AS (
       |  SELECT e.vec_id, cell,
       |    list_distance(CAST(e.embedding AS DOUBLE[]), cv) AS dist
       |  FROM embeddings e CROSS JOIN cents
       |), a AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
       |    FROM dct
       |  ) WHERE rn = 1
       |), p AS MATERIALIZED (
       |  SELECT a1.vec_id AS ia, a2.vec_id AS ib
       |  FROM a a1 JOIN a a2 ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id
       |  JOIN embeddings e1 ON e1.vec_id = a1.vec_id
       |  JOIN embeddings e2 ON e2.vec_id = a2.vec_id
       |  WHERE list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
       |                               CAST(e2.embedding AS DOUBLE[])) >= $SemTau
       |), edges AS MATERIALIZED (
       |  SELECT ia AS s, ib AS d FROM p UNION ALL SELECT ib, ia FROM p
       |), lab0 AS MATERIALIZED (
       |  SELECT DISTINCT s AS n, s AS l FROM edges
       |),
       |$roundCtes,
       |unconverged AS (
       |  SELECT l.n FROM lab$rounds l
       |  JOIN edges e ON e.s = l.n JOIN lab$rounds x ON x.n = e.d
       |  GROUP BY l.n, l.l HAVING min(x.l) < l.l
       |), cs AS MATERIALIZED (
       |  SELECT l.n AS vec_id, l.l AS group_id,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 4) AS c_sim
       |  FROM lab$rounds l
       |  JOIN a ON a.vec_id = l.n
       |  JOIN cents c ON c.cell = a.cell
       |  JOIN embeddings e ON e.vec_id = l.n
       |), grp AS (
       |  SELECT group_id, count(*) AS group_n FROM cs GROUP BY group_id
       |), keepers AS (
       |  SELECT group_id, vec_id AS keep_id FROM (
       |    SELECT group_id, vec_id,
       |      row_number() OVER (PARTITION BY group_id ORDER BY c_sim, vec_id) AS rn
       |    FROM cs
       |  ) WHERE rn = 1
       |)
       |SELECT vec_id, group_id, group_n, c_sim, keep FROM (
       |  SELECT cs.vec_id, cs.group_id, CAST(g.group_n AS BIGINT) AS group_n,
       |    cs.c_sim,
       |    CAST(CASE WHEN cs.vec_id = k.keep_id THEN 1 ELSE 0 END AS INTEGER) AS keep
       |  FROM cs JOIN grp g USING (group_id) JOIN keepers k USING (group_id)
       |  UNION ALL
       |  SELECT -1, -1, CAST(-1 AS BIGINT), -1, CAST(-1 AS INTEGER) FROM unconverged
       |) ORDER BY vec_id""".stripMargin
  }

  /** SemDeDup at the 100 TB operating point — [[qDedupSemantic]]'s
    * chain with its two scale knobs made REAL instead of assumed:
    * clusters come from TRAINED k-means centroids
    * ([[KMeans.trainedCentroidsOf]], the paper's actual clustering
    * stage) and every cell is CAPACITY-CAPPED by the index tier's
    * first-fit-decreasing re-tag ([[graft.index.VamanaIndex
    * .capAssignment]]) — so the O(cell²) pair scan's per-task work is
    * bounded by `capFactor · n / nCells` REGARDLESS of corpus skew (a
    * web corpus's near-duplicate mass concentrates exactly the way
    * SkewedCorpusSpec's 80/20 ball does, and an uncapped hot cell is
    * a quadratic straggler). The trade is explicit and inherent to
    * SemDeDup: duplicate pairs split across (sub-)cells are not
    * scanned — capping narrows the scan scope the same way the
    * paper's clustering does, one level further down.
    *
    * Keep rule and output schema are the parent's: one row per member
    * of a ≥2-member duplicate group, keep = lowest cosine to the
    * TRAINED parent-cell centroid (most atypical member, Abbas et al.
    * §2). Deterministic end to end (seeded Lloyd, FFD over measured
    * slice histograms, min-label union-find). */
  def semDeDupCapped(emb: DataFrame, nCells: Int, capFactor: Double = 1.5,
      tau: Double = SemTau, lloydIters: Int = 2): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val points = emb.select(col("vec_id"), col("embedding"))
    val cents = KMeans.trainedCentroidsOf(points, nCells, lloydIters)
    val assigned = KMeans.assign(points, cents)
      .select($"vec_id", $"embedding", $"cell".as("shard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (recapped, totalShards) =
      graft.index.VamanaIndex.capAssignment(assigned, nCells, capFactor)
    val maxSplit = totalShards / nCells
    // centroid cosine vs the TRAINED PARENT cell is computed inside
    // the cell task (sub-shard id / split factor recovers the parent —
    // capAssignment's dense re-tag rule); the old label→recapped
    // re-join ran the capped-assignment subtree twice (r18)
    val bcC = s.sparkContext.broadcast(cents.toMap)
    val members = cellComponents(
      recapped.select($"shard".cast("int"), $"vec_id", $"embedding")
        .as[(Int, Long, Array[Float])], tau, bcC, _ / maxSplit)
      .localCheckpoint()
    // eager materialization so the persisted assignment can be
    // RELEASED before return (the buildCapped ownership contract);
    // the output is duplicate-group members only — small
    val out = keepRule(members).localCheckpoint(true)
    assigned.unpersist(blocking = false)
    out
  }

  def release(s: SparkSession): Unit = graft.PlanCache.release(s, Family)

  // ---------------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> (qDedupExact(_, _)),
    "q_dedup_minhash" -> (qDedupMinhash(_, _)),
    "q_dedup_cluster" -> (qDedupCluster(_, _)),
    "q_dedup_cluster_rep" -> (qDedupClusterRep(_, _)),
    "q_decontaminate" -> (qDecontaminate(_, _)),
    "q_dedup_simhash" -> (qDedupSimhash(_, _)),
    "q_dedup_simhash_rep" -> (qDedupSimhashRep(_, _)),
    "q_dedup_jaccard" -> (qDedupJaccard(_, _)),
    "q_dedup_substring" -> (qDedupSubstring(_, _)),
    "q_dedup_substring_rep" -> (qDedupSubstringRep(_, _)),
    "q_dedup_cuts" -> (qDedupCuts(_, _)),
    "q_dedup_embed" -> (qDedupEmbed(_, _)),
    "q_dedup_semantic" -> (qDedupSemantic(_, _)))

  /** Pre-checkpoint pair chains, keyed by the public query name —
    * ExplainDump dumps these next to the public plans so plan reviews
    * can diff the kernel chain the output-sized checkpoint truncates
    * to `Scan ExistingRDD` (r18 verdict "what's wrong" 4). */
  private[graft] val preCheckpointPlans
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_jaccard" -> (jaccardPairsPlan(_, _)),
    "q_dedup_substring" -> (substringPairsPlan(_, _)),
    "q_dedup_substring_rep" -> (substringRepPairsPlan(_, _)))

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_minhash" -> qDedupMinhashSql,
    "q_dedup_cluster" -> qDedupClusterSql,
    // the rep variant is output-identical BY DESIGN — it shares the
    // parent's oracle verbatim, so the gate proves the equivalence
    "q_dedup_cluster_rep" -> qDedupClusterSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_dedup_simhash" -> qDedupSimhashSql,
    // the rep variants are output-identical BY DESIGN — they share
    // their parents' oracles verbatim, so the gate proves equivalence
    "q_dedup_simhash_rep" -> qDedupSimhashSql,
    "q_dedup_jaccard" -> qDedupJaccardSql,
    "q_dedup_substring" -> qDedupSubstringSql,
    "q_dedup_substring_rep" -> qDedupSubstringSql,
    "q_dedup_cuts" -> qDedupCutsSql,
    "q_dedup_embed" -> qDedupEmbedSql,
    "q_dedup_semantic" -> qDedupSemanticSql)
}
