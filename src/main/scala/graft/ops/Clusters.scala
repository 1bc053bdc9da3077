package graft.ops

import graft.{Op, OpGroup, ResultPins, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.I completion — near-dup CLUSTER FORMATION: every pairing op emits
  * pairs, but a real dedup pipeline must resolve transitive chains
  * (a~b, b~c ⇒ {a,b,c}, keep one) — the generalization of the
  * reference's preference-ordered duplicate resolution
  * (model_loading.py's hash-group → winner) from exact-hash groups to a
  * similarity GRAPH. The dataflow shape is the one the engine didn't
  * witness before round 4: an iterative loop of joins to fixpoint.
  */
object Clusters extends OpGroup {

  /** Connected components by iterative MIN-CONTRACTION: each round maps
    * every edge-incident node to min(self, neighbors) and relabels the
    * edge list through that mapping, dropping self-loops. The component
    * minimum maps to itself every round and relabeling preserves
    * connectivity, so when the edge list empties each component has
    * collapsed onto its min id — the canonical label. A path of length d
    * halves per round (O(log d) rounds); dense near-dup components
    * (similarity at thr 0.9 is near-transitive) collapse in 1–2. This is
    * the star-contraction half of Kiveris et al. 2014 — the shape whose
    * per-round work is O(current edges), which shrinks geometrically,
    * rather than O(nodes + edges) every round as label-propagation pays.
    *
    * Loop mechanics that matter at scale: the (possibly expensive) pair
    * pipeline behind `edges` is persisted ONCE and every intermediate is
    * a [[graft.ResultPins.scoped]] pin, freed when the op returns — a
    * prior localCheckpoint formulation leaked its block-manager blocks
    * past the op and taxed every query that ran after it in the same
    * session. One driver action
    * per round (the relabeled-edge count, which doubles as the
    * convergence test); the full node→label table is only composed ONCE
    * at the end, by folding the per-round contraction maps (each at most
    * the round's edge-incident nodes, shrinking geometrically) over the
    * node set with left joins — small maps, so AQE broadcasts them.
    *
    * @param nodes (node: LONG) — every element to assign (singletons
    *              keep their own label)
    * @param edges (u: LONG, v: LONG) — undirected, u != v
    * @return (node, label) with label = min node id of the component
    */
  /** Driver union-find over a bounded edge list — the CC endgame shared
    * by [[connectedComponents]]' tail and [[incrementalMerge]]'s label
    * merge. Union-by-min keeps the invariant that every tree root is
    * its component's minimum id, so the entries compose with
    * distributed contraction maps unchanged. Returns (node → root) for
    * every node the union-find touched (roots map to themselves after
    * path compression only if ever a parent; callers compose with
    * coalesce so self-mapping omissions are harmless).
    */
  private[graft] def driverUnionFind(tail: Array[(Long, Long)]): List[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    tail.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    parent.keysIterator.map(k => (k, find(k))).toList
  }

  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      pinKey: String = "shared"): DataFrame = {
    val spark = nodes.sparkSession
    // Loop intermediates are scope pins: the pin TRUNCATES the logical
    // plan — `persist` alone does not, and each round's plan embeds ~5
    // copies of the previous round's (e + two m references, m itself
    // holding two e's), so un-truncated analysis cost grows 5^rounds (the
    // first r5 cut spent minutes in Catalyst before round 4). The scope
    // frees every intermediate's blocks when the op returns — a prior
    // localCheckpoint formulation leaked its blocks past the op and taxed
    // every query that ran after it in the same session. The pin's row
    // count doubles as the loop's convergence count.
    ResultPins.scoped(spark) { pinN =>
    def pin(df: DataFrame): DataFrame = pinN(df)._1
    var (e, remaining) =
      pinN(edges.select(col("u"), col("v")).where(col("u") =!= col("v")))
    // The loop's shuffles carry the shrinking edge/label tables — small
    // from round 1 on — so run them at few partitions (same state-volume
    // rationale as the streaming family): per-partition task overhead
    // dominates sub-million-row shuffles at core-count fan-out. At real
    // scale this constant is sized to the edge volume instead. Restored
    // before returning.
    Tables.withConfs(spark, Seq("spark.sql.shuffle.partitions" -> "8")) {
    val maps = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var rounds = 0
    // Bounded-tail endgame threshold: once the contracted graph fits in
    // a few tens of MB of driver memory, more distributed rounds are
    // pure job overhead (3 pinned materializations each, measured
    // ~1.3–1.7 s/round at sf0.1). The bound is a CONSTANT, not
    // data-dependent — at any corpus scale the loop stays distributed
    // until the remainder is this small, which geometric contraction
    // guarantees it becomes. Sized so the tail's driver cost (a ≤2^21-
    // pair primitive collect ≈ 32 MB + O(E α) union-find, measured
    // ~0.1 s) stays well under ONE distributed round's job overhead —
    // the r9 measurement: sf0.1 enters with 1.045M edges (the duplicate-
    // inflated two-pairer union) and one round only reaches 914, so the
    // 64 Ki bound bought a ~1.4 s round to avoid a ~0.15 s collect. 2^21
    // leaves 2× headroom over that measured entry count: a bound a hair
    // above the live value (2^20 was 0.35% above it) would flip back to
    // the slow path on any small pair-count drift.
    val tailEdges = 1 << 21
    while (remaining > tailEdges && rounds < 32) {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      // m: edge-incident node → min(self, neighbors). Map-side partial
      // min keeps the shuffle at ≤ (distinct nodes × partitions) rows.
      // Pinned BEFORE pointer-doubling: dbl(dbl(m0)) embeds four copies
      // of this plan, and exchange reuse does not reliably unify them —
      // unpinned, round 1 ran the 2M-row groupBy shuffle 4×.
      val m0 = pin(sym.groupBy("u")
        .agg(least(col("u"), min(col("v"))).as("l"))
        .select(col("u").as("node"), col("l")))
      // Pointer-double the map twice (m := m∘m, twice) before using it:
      // a pure min-contraction shrinks a CHAIN by only ~one edge per
      // round (O(diameter) rounds); composing the map with itself
      // collapses label chains 4× per round, restoring O(log d). The
      // codomain stays inside the domain (l is self or a neighbor, both
      // edge-incident), so the self-join is total — left+coalesce keeps
      // it total even if that invariant ever slipped.
      def dbl(a: DataFrame): DataFrame =
        a.join(a.select(col("node").as("ln"), col("l").as("l2")),
            col("l") === col("ln"), "left")
          .select(col("node"), coalesce(col("l2"), col("l")).as("l"))
      val m = pin(dbl(dbl(m0)))
      maps += m
      // Relabel both endpoints through m (inner join is total: every
      // endpoint is edge-incident by construction), drop collapsed
      // edges, canonicalize u<v so distinct dedups mirrored survivors.
      val (e2, n2) = pinN(e
        .join(m.select(col("node").as("u"), col("l").as("lu")), Seq("u"))
        .join(m.select(col("node").as("v"), col("l").as("lv")), Seq("v"))
        .where(col("lu") =!= col("lv"))
        .select(least(col("lu"), col("lv")).as("u"),
          greatest(col("lu"), col("lv")).as("v"))
        .distinct())
      remaining = n2
      e = e2
      rounds += 1
    }
    if (remaining > 0) {
      // Finish the ≤tailEdges remainder with a driver union-find (one
      // bounded collect, zero per-round job overhead) — the standard
      // endgame for iterative CC (GraphX/Kiveris finish small contracted
      // graphs centrally). Union-by-min keeps the invariant that every
      // tree root is its component's minimum id, so the resulting map
      // composes with the distributed rounds' maps unchanged. Collected
      // as specialized (Long, Long) pairs, not Rows: at the 2^20 bound a
      // Row collect is ~150 MB of GenericRow boxing vs ~32 MB of
      // primitive tuples.
      val tail = e.rdd.map(r => (r.getLong(0), r.getLong(1))).collect()
      val entries = driverUnionFind(tail)
      if (entries.nonEmpty) {
        import spark.implicits._
        maps += entries.toDF("node", "l")
      }
      remaining = 0
      rounds += 1
    }
    require(remaining == 0, s"connectedComponents did not converge in $rounds rounds")
    // Compose node → m1 → m2 → …: nodes untouched by round i keep their
    // current label (left join + coalesce keeps singletons total).
    var labels = nodes.select(col("node"), col("node").as("label"))
    maps.foreach { m =>
      labels = labels
        .join(m.select(col("node").as("label"), col("l")), Seq("label"), "left")
        .select(col("node"), coalesce(col("l"), col("label")).as("label"))
    }
    // Materialize the small final table (|nodes| rows of two longs) off
    // the loop's lineage before the scope frees every intermediate.
    ResultPins.swap(spark, s"cc:$pinKey", labels)
    }
    }
  }

  /** INCREMENTAL COMPONENT MERGE (shared by the embedding-side
    * `dedup_semantic_clusters_append` and the text-side
    * `dedup_cluster_cc_append`): fold a batch's verified edges into a
    * persisted (node, label) assignment at LABEL granularity. Each new
    * edge is contracted through the assignment (u, v) → (label(u),
    * label(v)); batch nodes, which are not base members, label
    * themselves. Inter-label edges span exactly the connectivity the
    * batch adds, so CC runs over the TOUCHED LABELS ONLY — never over
    * component members. Because every base label is its component's
    * minimum member id and batch singletons carry their own id, the min
    * over merged label ids IS the min over merged member ids: composing
    * the label map back over the assignment yields exactly the full
    * recompute. Both append keys carry their full-recompute key's own
    * DuckDB oracle.
    *
    * Carrying affected components into CC as member→label star edges
    * is O(touched members): on the dup-dense fixture (one component
    * spans ~86% of docs) that maintenance cost 10.4 s against the 5.7 s
    * full recompute it was meant to amortize. Label contraction
    * removes that regime entirely instead of guarding it with a
    * fallback threshold: work is O(|batch edges| + |touched
    * labels|) regardless of how big the touched components are — the
    * same reason min-contraction CC contracts before it iterates
    * (Kiveris et al. 2014). Untouched components never leave the
    * persisted parquet: the final compose is one left join against the
    * (tiny, broadcast) label map with coalesce, so their rows pass
    * through verbatim.
    *
    * The contracted edge set is the only consumer of the (expensive)
    * verified-edge pipeline, and it is pinned here — callers must NOT
    * pre-pin newEdges: that pays a second materialization of a
    * 190k-row relation that the contraction shrinks to ~10³ rows.
    *
    * @return (untouched, subNodes, mergeEdges, merged) — the first
    *         three are the bounded-work witness seams the append specs
    *         count rows on: rows passing through verbatim, rows whose
    *         assignment the merge may rewrite (they partition the
    *         corpus), and the contracted inter-label edges. The seams
    *         are LAZY — the keyed ops consume only `merged`, so the
    *         hot path never runs the seam joins.
    */
  def incrementalMerge(s: org.apache.spark.sql.SparkSession, base: DataFrame,
      newEdges: DataFrame, batchNodes: DataFrame, pinKey: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // Batch nodes are not base members: they enter as their own label
    // (the CC convention for singletons), so contraction is total.
    val nodeLabel = base.select("node", "label").unionByName(
      batchNodes.select(col("node"), col("node").as("label")))
    // Contract each verified edge to its endpoints' labels; drop
    // intra-component edges (lu = lv — the batch re-finding a known
    // near-dup), canonicalize u < v so distinct dedups mirrors. Pinned:
    // this is the single materialization of the whole probe/pairing
    // pipeline, and both CC and the touched-label set read it.
    val contracted = ResultPins.swap(s, s"$pinKey:contracted",
      newEdges
        .join(nodeLabel.select(col("node").as("u"), col("label").as("lu")), Seq("u"))
        .join(nodeLabel.select(col("node").as("v"), col("label").as("lv")), Seq("v"))
        .where(col("lu") =!= col("lv"))
        .select(least(col("lu"), col("lv")).as("u"),
          greatest(col("lu"), col("lv")).as("v"))
        .distinct())
    val touchedLabels = contracted.select(col("u").as("node"))
      .union(contracted.select(col("v").as("node"))).distinct()
    // CC over labels only — |touched labels| nodes, |contracted| edges.
    // The contracted relation is inter-label edges of batch-touched
    // components, almost always far below the CC tail bound — go
    // straight to the driver union-find endgame (one collect on the
    // pinned relation, zero distributed-round job overhead); the
    // distributed loop remains the fallback for a pathological batch
    // whose contracted graph is still huge.
    val labelMap =
      if (ResultPins.rowCount(contracted) <= (1L << 21))
        s.createDataFrame(driverUnionFind(
          contracted.rdd.map(r => (r.getLong(0), r.getLong(1))).collect()))
          .toDF("label", "l")
      else
        connectedComponents(touchedLabels, contracted, pinKey)
          .select(col("node").as("label"), col("label").as("l"))
    // Compose: one left join against the tiny label map (a broadcast —
    // LocalRelation on the driver path, AQE-elected otherwise);
    // untouched rows coalesce to their persisted label.
    val merged = nodeLabel.join(labelMap, Seq("label"), "left")
      .select(col("node"), coalesce(col("l"), col("label")).as("label"))
    // Spec witness seams (lazy; not on the keyed ops' path).
    val untouched = nodeLabel.join(
      touchedLabels.select(col("node").as("label")), Seq("label"), "left_anti")
    val subNodes = nodeLabel.join(
      touchedLabels.select(col("node").as("label")), Seq("label"))
      .select("node")
    (untouched, subNodes, contracted, merged)
  }

  /** Canonical-group assignment over the UNION of the two production
    * near-dup pairers (banded MinHash-LSH Jaccard ≥ 0.9 + pigeonhole
    * SimHash Hamming ≤ 8): every document maps to its component's min
    * doc_id (singletons to themselves) with the component size — the
    * keep-one table a training-data pipeline joins against to drop
    * near-duplicates. The DuckDB oracle recomputes both pair sets with
    * the ops' own oracle SQL and closes them transitively with a
    * recursive CTE — so the whole pairs→graph→components path is
    * hash-checked.
    */
  /** The full-recompute min-contraction oracle, shared verbatim by the
    * append key (merged == recompute) and — live-filtered — by the
    * delete key (r15).
    */
  private[graft] val ccOracleSql: String =
    """WITH RECURSIVE tok AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sig AS (SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || '|' || word)) AS sig FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) bands GROUP BY doc_id, band), bk AS (SELECT doc_id, band // 4 AS band_idx, md5(string_agg(sig, '|' ORDER BY band)) AS bkey FROM sig GROUP BY doc_id, band // 4), lcand AS (SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id), sets AS MATERIALIZED (SELECT doc_id, list(word ORDER BY word) AS ws, count(*) AS n FROM tok GROUP BY doc_id), lshp AS (SELECT c.a_doc_id, c.b_doc_id FROM lcand c JOIN sets sa ON sa.doc_id = c.a_doc_id JOIN sets sb ON sb.doc_id = c.b_doc_id WHERE CAST(len(list_intersect(sa.ws, sb.ws)) AS DOUBLE) / (sa.n + sb.n - len(list_intersect(sa.ws, sb.ws))) >= 0.9), sh AS (SELECT doc_id, list_reduce(list_transform(generate_series(0, 59), j -> CASE WHEN list_reduce(list_transform(hs, h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END), (a, b) -> a | b) AS simhash FROM (SELECT doc_id, list_transform(string_split(lower(text), ' '), w -> CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)) AS hs FROM documents) t), hbands(i, o, l) AS (SELECT * FROM (VALUES (0,0,7),(1,7,7),(2,14,7),(3,21,7),(4,28,7),(5,35,7),(6,42,6),(7,48,6),(8,54,6)) AS v(i,o,l)), bv AS MATERIALIZED (SELECT doc_id, simhash, i, (simhash >> o) & ((CAST(1 AS BIGINT) << l) - 1) AS bval FROM sh CROSS JOIN hbands), hamp AS (SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id FROM bv a JOIN bv b ON a.i = b.i AND a.bval = b.bval AND a.doc_id < b.doc_id WHERE bit_count(xor(a.simhash, b.simhash)) <= 8), e0 AS MATERIALIZED (SELECT a_doc_id AS u, b_doc_id AS v FROM lshp UNION SELECT a_doc_id, b_doc_id FROM hamp), s0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0), m1 AS MATERIALIZED (SELECT d.doc_id AS node, LEAST(d.doc_id, COALESCE(MIN(s0.v), d.doc_id)) AS l FROM documents d LEFT JOIN s0 ON s0.u = d.doc_id GROUP BY d.doc_id), e1 AS MATERIALIZED (SELECT DISTINCT a.l AS u, b.l AS v FROM e0 JOIN m1 a ON e0.u = a.node JOIN m1 b ON e0.v = b.node WHERE a.l <> b.l), s1 AS MATERIALIZED (SELECT u, v FROM e1 UNION ALL SELECT v, u FROM e1), m2 AS MATERIALIZED (SELECT n.node, LEAST(n.node, COALESCE(MIN(s1.v), n.node)) AS l FROM (SELECT DISTINCT l AS node FROM m1) n LEFT JOIN s1 ON s1.u = n.node GROUP BY n.node), e2 AS MATERIALIZED (SELECT DISTINCT a.l AS u, b.l AS v FROM e1 JOIN m2 a ON e1.u = a.node JOIN m2 b ON e1.v = b.node WHERE a.l <> b.l), s2 AS MATERIALIZED (SELECT u, v FROM e2 UNION ALL SELECT v, u FROM e2), reach(n, r) AS (SELECT u, u FROM s2 UNION SELECT reach.n, s2.v FROM reach JOIN s2 ON reach.r = s2.u), canon2 AS (SELECT n, MIN(r) AS c FROM reach GROUP BY n), assign AS (SELECT d.doc_id AS member_doc_id, COALESCE(c2.c, m2x.l) AS canonical_doc_id FROM documents d JOIN m1 ON m1.node = d.doc_id JOIN m2 m2x ON m2x.node = m1.l LEFT JOIN canon2 c2 ON c2.n = m2x.l) SELECT member_doc_id, canonical_doc_id, COUNT(*) OVER (PARTITION BY canonical_doc_id) AS cluster_size FROM assign ORDER BY member_doc_id"""

  private val clusterCc = Op(
    "dedup_cluster_cc",
    (s, sf) => {
      // Shared-stage fold (r6): each pairer's self-join and the LSH
      // verify consume an expensive doc-level relation TWICE, and the
      // static plan shows no ReusedExchange unifying the duplicated
      // subtrees — so pin the three O(docs)-row intermediates (16-sig
      // minhash table, token bitmasks, simhash fingerprints) for the
      // edge build. connectedComponents materializes the edge list
      // eagerly at entry, so the caches are fully consumed — and freed —
      // before the op returns (no blocks leak past it).
      val sigs = Dedup.minhashSigs(s, sf, 16).persist()
      val (masksDf, interExpr) = Dedup.tokenMasks(s, sf)
      val masks = masksDf.persist()
      val sh = Dedup.simhashFingerprints(s, sf).persist()
      // No distinct on the union: duplicate edges (a pair surfaced by
      // both pairers) are harmless under the loop's MIN aggregation, and
      // deduping would cost a full shuffle of the ~1M pair rows.
      val edges = Dedup.minhashLshPairs(s, sf, Some(sigs), Some((masks, interExpr)))
        .select(col("a_doc_id").as("u"), col("b_doc_id").as("v"))
        .union(Dedup.simhashHammingPairs(s, sf, Some(sh)).select(
          col("a_doc_id").as("u"), col("b_doc_id").as("v")))
      val nodes = Tables.documents(s, sf).select(col("doc_id").as("node"))
      val cc = connectedComponents(nodes, edges, "dedup_cluster_cc@" + sf)
      Seq(sigs, masks, sh).foreach(_.unpersist(false))
      cc
        .select(col("node").as("member_doc_id"), col("label").as("canonical_doc_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("canonical_doc_id"))))
        .orderBy("member_doc_id")
    },
    // The oracle unions the two pairers' published oracle SQL (CTE names
    // disambiguated), then resolves components SCALABLY: a naive
    // recursive transitive closure is Θ(Σ |component|² · degree) join
    // work — on sf0.1's giant near-dup component (4 289 docs, 1M edges,
    // avg degree ~400) that is ~10¹⁰ rows and ran >35 min before being
    // killed. Instead: two plain-SQL min-contraction rounds (each node →
    // min(self, neighbors), edges relabeled — E-linear, exactly one hop
    // of the Spark loop), which collapse the dense components to a
    // handful of supernodes, THEN the recursive closure on the tiny
    // contracted graph, composed back through the contraction mappings.
    // Component minima survive contraction (the min node maps to
    // itself), so canonical ids are identical. AS MATERIALIZED pins the
    // multiply-referenced CTEs — DuckDB otherwise inlines them and
    // re-executes the LSH pipeline once per reference. Validated
    // cell-exact against a union-find ground truth at sf0.1 (6.9 s).
    Some(ccOracleSql),
  )

  /** Fingerprint-keyed home of the persisted text-side cluster
    * assignment — the keep-one table's incremental lineage.
    */
  private[graft] def ccAppendDir(s: org.apache.spark.sql.SparkSession, sf: String): String =
    Tables.artifactDir("graft_cc_app_v2", sf, "documents")

  /** Generation 0 of the text-side incremental lineage: the even-half
    * keep-one assignment (both pairers restricted to even-even pairs —
    * a one-time O(corpus) build, like every index base) plus the even
    * half's SimHash fingerprints, persisted so the append recomputes
    * signatures for the BATCH only (the MinHash side needs no extra
    * artifact: the APPEND-MAINTAINED LSH INDEX already serves
    * base signatures, and its probe IS the odd-incident verified
    * Jaccard edge set). Each part commits by its own staged rename.
    */
  private def ccAppendBase(s: org.apache.spark.sql.SparkSession, sf: String): String = {
    val dir = ccAppendDir(s, sf)
    Tables.commitStaged(dir, "simhash") {
      Dedup.simhashFingerprints(s, sf)
        .filter(pmod(col("doc_id"), lit(10)) =!= 1)
        .write.parquet(_)
    }
    Tables.commitStaged(dir, "assign") { tmp =>
      val basePairs = Dedup.minhashLshPairs(s, sf)
        .select(col("a_doc_id").as("u"), col("b_doc_id").as("v"))
        .union(Dedup.simhashHammingPairs(s, sf)
          .select(col("a_doc_id").as("u"), col("b_doc_id").as("v")))
        .filter(pmod(col("u"), lit(10)) =!= 1 && pmod(col("v"), lit(10)) =!= 1)
      val baseNodes = Tables.documents(s, sf)
        .filter(pmod(col("doc_id"), lit(10)) =!= 1)
        .select(col("doc_id").as("node"))
      connectedComponents(baseNodes, basePairs, "cc_append_base@" + sf)
        .write.parquet(tmp)
    }
    dir
  }

  /** TEXT-SIDE INCREMENTAL CLUSTER MAINTENANCE (r14) — the keep-one
    * table's daily-ingest dual, completing the symmetry with
    * `dedup_semantic_clusters_append`: merge the ingest batch's
    * verified near-dup edges into the persisted assignment via
    * [[incrementalMerge]], touching only affected components. The
    * batch's MinHash edges come FROM THE PERSISTED LSH INDEX — the
    * append key's probe (batch signatures only, candidates from the
    * band directories, exact ≥ 0.9 popcount verify) emits exactly the
    * batch-incident verified Jaccard pairs, and its md5-banded candidate
    * scheme derives from the same 16 signatures as the pair op's
    * xxhash64 banding, so the VERIFIED sets coincide (a band collision
    * can only add a candidate, which the exact verify kills). SimHash
    * edges: the base corpus's fingerprints serve from generation 0,
    * only the batch pays the hashing pass (the doc_id filter pushes
    * below the fingerprint aggregation to the scan). Merged ≡ the full
    * recompute, so the key carries `dedup_cluster_cc`'s own
    * min-contraction oracle.
    */
  /** The merge pipeline behind the keyed op, parts exposed for
    * CcAppendSpec's bounded-work row counts.
    */
  private[graft] def ccAppendParts(s: org.apache.spark.sql.SparkSession, sf: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val dir = ccAppendBase(s, sf)
    val base = Tables.parquet(s, s"$dir/assign")
    // The ingest batch is a 10% daily slice (doc_id % 10 == 1 — every
    // batch doc is odd, hence already a member of the append-maintained
    // LSH index): the batch predicate is internal to the op, and the
    // full-recompute oracle is split-independent, so the slice size is
    // chosen for the REALISTIC maintenance shape (a day's ingest is a
    // small fraction of the corpus, not half of it).
    // dedupCandidates=false (r16): duplicate verified pairs are harmless
    // under the merge's label contraction (its distinct runs over the
    // contracted ~10³-label relation), so the probe skips its
    // corpus-candidate-sized distinct exchange for this caller.
    val lshPairs = Dedup.lshProbe(s, sf, Dedup.lshAppendedIndex(s, sf),
        excludeSelf = true, batchMod = 10, batchRem = 1, dedupCandidates = false)
      .select(col("batch_doc_id").as("u"), col("base_doc_id").as("v"))
    val batchSh = Dedup.simhashFingerprints(s, sf)
      .filter(pmod(col("doc_id"), lit(10)) === 1)
    // spread: the persisted fingerprint relation is a handful of small
    // files -> one input partition, and the 9-band explode + probe join
    // inherit it (the docs/scale.md narrow-stage lesson: 2.3 s -> 19 s
    // measured when unspread). Batch-incident probe (r15): joins the
    // batch's band rows against the corpus's instead of self-joining
    // the corpus and filtering — the append pays O(batch·bucket), not
    // the full pair op's O(Σ bucket²) (measured 5.9 s of the append's
    // 9 s at sf0.1, all spent producing pairs the filter then dropped).
    val shPairs = Dedup.simhashHammingPairsIncident(
        Tables.spread(s, Tables.parquet(s, s"$dir/simhash")), batchSh)
      .select(col("a_doc_id").as("u"), col("b_doc_id").as("v"))
    // NOT pre-pinned (r15): incrementalMerge's label contraction is the
    // single consumer of the verified edges and pins the (far smaller)
    // contracted relation itself — a checkpoint here would pay one
    // extra full materialization of the 190k-row edge set.
    val newEdges = lshPairs.union(shPairs)
    val batchNodes = Tables.documents(s, sf)
      .filter(pmod(col("doc_id"), lit(10)) === 1)
      .select(col("doc_id").as("node"))
    incrementalMerge(s, base, newEdges, batchNodes, "dedup_cluster_cc_append@" + sf)
  }

  private val clusterCcAppend = Op(
    "dedup_cluster_cc_append",
    (s, sf) => {
      // NOT under the probe conf scope (r16, tried and reverted): on
      // the dup-dense fixture this probe verifies ~174k pairs from
      // ~600k candidate rows — ~40× the index keys' probe volume — and
      // the 8-partition/AQE-off scope measured 5.60 s isolated vs
      // 2.94 s unscoped (same session shape that gave the index keys
      // their 1.5-2× win). Batch-bounded is not small enough here; the
      // pair volume wants the session's fan-out.
      val (_, _, _, merged) = ccAppendParts(s, sf)
      merged
        .select(col("node").as("member_doc_id"), col("label").as("canonical_doc_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("canonical_doc_id"))))
        .orderBy("member_doc_id")
    },
    Some(ccOracleSql),
  )

  /** Rewrite a full-corpus oracle to run over the live (un-retired)
    * subset: filter the base table FIRST (the replace runs before the
    * live CTE is prepended, so the CTE's own FROM survives), then point
    * every reference at the filtered CTE. Shared by both cluster-delete
    * keys (r15).
    */
  private[graft] def liveFilteredOracle(sql: String, table: String, idCol: String): String = {
    val rewritten = sql.replace(s"FROM $table", s"FROM live_$table")
    rewritten.replaceFirst("WITH RECURSIVE ",
      s"WITH RECURSIVE live_$table AS MATERIALIZED (SELECT * FROM $table WHERE $idCol % 10 <> 7), ")
  }

  /** Generation 0 of the text-side DELETE lineage: the FULL-corpus
    * keep-one assignment plus its verified near-dup EDGE relation,
    * persisted together under one crash-safe staged commit. The edge
    * relation is the load-bearing artifact: near-dup candidacy and
    * verification are strictly PAIRWISE (band keys, mask popcounts and
    * Hamming distances depend only on the two docs), so the live
    * corpus's edge set is exactly the persisted set with both endpoints
    * live — a delete never re-hashes or re-pairs anything.
    */
  private[graft] def ccFullBase(s: org.apache.spark.sql.SparkSession, sf: String): String = {
    val dir = ccAppendDir(s, sf)
    Tables.commitStaged(dir, "full") { tmp =>
      // Same shared-stage fold as the full-recompute op: pin the three
      // O(docs)-row intermediates both pairers consume twice.
      val sigs = Dedup.minhashSigs(s, sf, 16).persist()
      val (masksDf, interExpr) = Dedup.tokenMasks(s, sf)
      val masks = masksDf.persist()
      val sh = Dedup.simhashFingerprints(s, sf).persist()
      Dedup.minhashLshPairs(s, sf, Some(sigs), Some((masks, interExpr)))
        .select(col("a_doc_id").as("u"), col("b_doc_id").as("v"))
        .union(Dedup.simhashHammingPairs(s, sf, Some(sh))
          .select(col("a_doc_id").as("u"), col("b_doc_id").as("v")))
        .write.parquet(s"$tmp/edges")
      connectedComponents(
          Tables.documents(s, sf).select(col("doc_id").as("node")),
          Tables.parquet(s, s"$tmp/edges"), "cc_full@" + sf)
        .write.parquet(s"$tmp/assign")
      Seq(sigs, masks, sh).foreach(_.unpersist(false))
    }
    dir
  }

  /** TOMBSTONE DELETE on the persisted cluster assignment (r15, the r14
    * verdict's item 3) — the sixth lifecycle act the INDEXES already
    * had, now on the keep-one table itself: retire a committed id set
    * and re-label ONLY the components that contained a retired member.
    * Unlike the append (where new edges can only MERGE components, so
    * label granularity suffices), deletions can SPLIT a component —
    * connectivity through the retired member is lost — so the touched
    * components' live members re-enter CC over the PERSISTED edge
    * relation restricted to them (no re-hashing, no re-pairing; see
    * [[ccFullBase]]). Untouched components pass through verbatim from
    * the persisted assignment. Labels are component minima, so the
    * result is IDENTICAL to a full recompute over the live corpus — the
    * key carries the full-recompute oracle with the base table
    * live-filtered.
    *
    * 100 TB shape: one semi/anti join pass over the persisted edges
    * (broadcast tombstones), CC bounded by the touched components'
    * edges, and the assignment pass-through never shuffles.
    */
  private[graft] def ccDeleteParts(s: org.apache.spark.sql.SparkSession, sf: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dir = ccFullBase(s, sf)
    // The retirement set is COMMITTED (crash-safe staged rename), like
    // the index tombstones: a GDPR/takedown batch is durable state, not
    // a query parameter.
    Tables.commitStaged(dir, "cc_tombstones") { tmp =>
      Tables.documents(s, sf).filter(pmod(col("doc_id"), lit(10)) === 7)
        .select("doc_id").write.parquet(s"$tmp/docs")
    }
    val retired = Tables.parquet(s, s"$dir/cc_tombstones/docs")
    val assign = Tables.parquet(s, s"$dir/full/assign")
    val edges = Tables.parquet(s, s"$dir/full/edges")
    // Touched labels: tiny (≤ |retired|), pinned for its three
    // consumers; broadcast by AQE in each.
    val touchedLabels = ResultPins.swap(s,
      s"dedup_cluster_cc_delete:touched@$sf",
      assign.join(retired.select(col("doc_id").as("node")), "node")
        .select("label").distinct())
    val untouched = assign.join(touchedLabels, Seq("label"), "left_anti")
    val liveMembers = assign.join(touchedLabels, Seq("label"))
      .join(retired.select(col("doc_id").as("node")), Seq("node"), "left_anti")
      .select("node")
    // Component edges have both endpoints in one component, so one
    // semi-join on u against the touched live members both restricts to
    // touched components AND drops retired-u edges; the anti-join on v
    // drops the retired-v side.
    val liveEdges = edges
      .join(liveMembers.select(col("node").as("u")), Seq("u"), "left_semi")
      .join(retired.select(col("doc_id").as("v")), Seq("v"), "left_anti")
      .select("u", "v")
    val relabeled = connectedComponents(liveMembers, liveEdges,
      "dedup_cluster_cc_delete@" + sf)
    val merged = relabeled.select("node", "label")
      .union(untouched.select("node", "label"))
    (untouched, liveMembers, merged)
  }

  private val clusterCcDelete = Op(
    "dedup_cluster_cc_delete",
    (s, sf) => {
      val (_, _, merged) = ccDeleteParts(s, sf)
      merged
        .select(col("node").as("member_doc_id"), col("label").as("canonical_doc_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("canonical_doc_id"))))
        .orderBy("member_doc_id")
    },
    Some(liveFilteredOracle(ccOracleSql, "documents", "doc_id")),
  )

  /** TRIANGLE COUNTING + clustering coefficient (r6) over the
    * co-purchase graph — the second classic distributed-graph kernel
    * next to connected components, and the standard cohesion/community
    * signal (recommender neighborhoods, fraud rings). Graph: parts with
    * p_size ≥ 40 (the per-category blocking a 100 TB run shards on) are
    * nodes; an undirected edge joins two parts co-occurring in ≥ 1
    * order. Triangle enumeration is the canonical compact-forward
    * algorithm made relational: edges canonicalized u < v, wedges from
    * the e.v = e.u self-join (each wedge u<v<w generated exactly once),
    * closed by one more equi-join — Σ deg² work, NO cartesian stage —
    * then per-node counts by exploding each triangle's three corners.
    * The edge list is consumed FOUR times (degrees + three join legs)
    * with different pruned columns, so no two references canonicalize
    * to one exchange — it is pinned once (persist) and the small result
    * (|connected nodes| rows) is materialized off that lineage before
    * the pin is released, the dedup_cluster_cc block-hygiene pattern:
    * the fact table is scanned ONCE however many times the graph is
    * walked, and only the result's own blocks outlive the op. Output:
    * every connected node with degree, triangle count and local
    * clustering coefficient 2T/(deg·(deg−1)) — NULL for degree-1 nodes
    * in both engines via the guarded divide.
    */
  /** The co-purchase graph both graph kernels walk: parts with
    * p_size ≥ 40 (per-category blocking) as nodes, an undirected u < v
    * edge per part pair co-occurring in ≥ 1 order. One distinct + one
    * order-key self-join (per-order fanout = basket size) + one hash
    * agg — callers pin the result before multi-consuming it.
    */
  /** Memoized, checkpointed co-purchase edge list per corpus (memo kind
    * "copurchase_edges", keyed by the lineitem and part fingerprints) —
    * the "build the graph ONCE" production shape: all seven kernels
    * read the same ~57k-row relation, so it is materialized once
    * (localCheckpoint truncates the wedge-join build lineage) instead
    * of re-running the corpus-scale build per kernel (measured ~0.8 s
    * × 6 redundant builds per bench session at sf0.1). The build is
    * order-free-deterministic (distinct + equi-join + group), so
    * memoization is semantically invisible.
    */
  private[graft] def copurchaseEdges(s: org.apache.spark.sql.SparkSession, sf: String): DataFrame =
    ResultPins.memo(s, sf, "copurchase_edges", copurchaseInputs(sf)) {
      Tables.withConfs(s, Seq(
        "spark.sql.shuffle.partitions" -> "8")) {
        val items = Tables.lineitem(s, sf)
          .join(Tables.part(s, sf).filter(col("p_size") >= 40)
            .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        items.as("a").join(items.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
          .agg(count(lit(1)).as("w"))
          .select("u", "v")
          .localCheckpoint()
      }
    }

  private def copurchaseInputs(sf: String): String =
    s"${Tables.fingerprint(sf, "lineitem")}|${Tables.fingerprint(sf, "part")}"

  /** Degree-annotated symmetric co-purchase edges — (symD: u, v, deg_u,
    * deg_v; deg: node, deg) — localCheckpoint-memoized per corpus like
    * [[copurchaseEdges]] (memo kind "copurchase_symdeg"): the wedge
    * family (adamic_adar, neighbor_jaccard, 2hop_reach) shares this
    * prefix but each key re-derived the degree groupBy + joins per
    * invocation. Carrying BOTH endpoint degrees on the edge row lets
    * the wedge aggregations read center and endpoint degrees without
    * any post-join (degree is functionally dependent on the node, so
    * grouping by it adds no granularity).
    */
  private[graft] def copurchaseSymDeg(s: org.apache.spark.sql.SparkSession,
      sf: String): (DataFrame, DataFrame) =
    ResultPins.memo(s, sf, "copurchase_symdeg", copurchaseInputs(sf)) {
      Tables.withConfs(s, Seq(
        "spark.sql.shuffle.partitions" -> "8")) {
        val edges = copurchaseEdges(s, sf)
        val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        val deg = sym.groupBy(col("u").as("node"))
          .agg(count(lit(1)).as("deg")).localCheckpoint()
        val symD = sym
          .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), "u")
          .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), "v")
          .select("u", "v", "deg_u", "deg_v").localCheckpoint()
        (symD, deg)
      }
    }

  private val copurchaseTriangles = Op(
    "graph_copurchase_triangles",
    (s, sf) => Tables.withConfs(s, Seq(
      // The graph tables (edges ≈ 57k rows at sf0.1, shrinking further
      // through wedges→triangles) are tiny relative to core-count
      // fan-out; the op materializes eagerly inside this scope, so the
      // sizing is honored at execution (the clusterCc rationale). At
      // real scale this constant is sized to the edge volume.
      "spark.sql.shuffle.partitions" -> "8")) {
      import graft.ops.parity.r6
      val edges = copurchaseEdges(s, sf)
      val deg = edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
      val wedges = edges.as("e1").join(edges.as("e2"), col("e1.v") === col("e2.u"))
        .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
      val tris = wedges.join(edges.as("e3"),
        col("x") === col("e3.u") && col("z") === col("e3.v"))
      val triPerNode = tris
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      val out = deg.join(triPerNode, Seq("node"), "left")
        .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
        .select(col("node").as("p_partkey"), col("degree"), col("n_triangles"),
          r6(col("n_triangles") * 2.0 /
            when(col("degree") > 1, col("degree") * (col("degree") - 1))).as("clustering"))
      // Materialize the bounded result off the pinned-edges lineage,
      // then free the edge blocks (clusterCc's hygiene: nothing but the
      // result outlives the op in the block manager). The output sort
      // runs on the pinned relation.
      ResultPins.swap(s, "graph_copurchase_triangles@" + sf, out).orderBy("p_partkey")
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), e AS (SELECT a.l_partkey AS u, b.l_partkey AS v FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), deg AS (SELECT node, COUNT(*) AS degree FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) s GROUP BY node), tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v), tpn AS (SELECT node, COUNT(*) AS n_triangles FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) s GROUP BY node) SELECT d.node AS p_partkey, d.degree, COALESCE(t.n_triangles, 0) AS n_triangles, ROUND(1e-9 + COALESCE(t.n_triangles, 0) * 2.0 / NULLIF(d.degree * (d.degree - 1), 0), 6) AS clustering FROM deg d LEFT JOIN tpn t ON t.node = d.node ORDER BY p_partkey"""),
  )

  /** PAGERANK (r6) over the co-purchase graph — the third classic graph
    * kernel (CC, triangles, now the iterative sparse-matvec family):
    * 5 damped iterations (d = 0.85), each one equi-join of the
    * symmetric edge list against the current rank vector + one hash
    * agg — per-iteration work O(edges), the canonical 100 TB iterative
    * dataflow. Cross-engine float parity under ITERATION uses the r6
    * discipline inductively, run in parts-per-million scale so six
    * decimals carry ~7 significant digits at fixture rank magnitudes:
    * every per-edge contribution is rounded then decimal-cast before
    * the order-free sum, and each new rank is rounded — identical
    * inputs ⇒ identical doubles ⇒ identical next iteration. N folds in
    * as a 1-row cross join (no driver action). The undirected graph has
    * no dangling nodes by construction (every connected node has
    * out-degree ≥ 1), so no teleport-mass correction term is needed.
    *
    * Loop mechanics (r7): the static per-node columns (deg, nn) live in
    * ONE pinned node-meta relation and each iteration's `next` rebuilds
    * them from that pin instead of carrying them through `pr` — so `pr`
    * is referenced exactly ONCE per iteration (the contrib join) and the
    * lineage is a LINEAR 5-deep chain, not the 2^k tree that forced the
    * r6 every-other-iteration eager pin. Two driver actions total (the
    * node-meta pin and the result pin) instead of six; all five
    * iterations execute as one job at the result pin. Blocks are freed
    * before return (clusterCc hygiene).
    */
  private val copurchasePagerank = Op(
    "graph_copurchase_pagerank",
    (s, sf) => ResultPins.scoped(s) { pin =>
      import graft.ops.parity.{dec, r6}
      // AQE off for this op: the static planner keeps the 5 iterations'
      // identical sym-side exchanges canonically equal, so the edge
      // shuffle runs ONCE and is ReusedExchange'd by iterations 2-5 —
      // AQE's per-stage re-planning materializes each reference as its
      // own stage job instead.
      Tables.withConfs(s, Seq("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.enabled" -> "false")) {
      val edges = copurchaseEdges(s, sf)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      val nN = deg.agg(count(lit(1)).as("nn"))
      // One pinned static relation carries (node, deg, nn); deg is
      // referenced twice inside this single action (nN + the cross
      // join), a cheap in-job recompute of one 8-partition agg.
      val (meta, _) = pin(deg.crossJoin(nN))
      var pr = meta.select(col("node"), col("deg"), col("nn"),
        r6(lit(1000000.0) / col("nn")).as("pr"))
      for (_ <- 1 to 5) {
        val contrib = sym
          .join(pr.select(col("node").as("u"), col("deg"), col("pr")), "u")
          .select(col("v").as("node"), dec(r6(col("pr") / col("deg"))).as("c"))
          .groupBy("node").agg(sum(col("c")).as("sc"))
        // Rebuild the static columns from the PINNED meta, not from pr:
        // pr is referenced once per iteration, so the chain stays linear
        // and needs no mid-loop eager pin. NO broadcast hint: meta is
        // one row per graph NODE — broadcasting it caps the op at the
        // driver/broadcast limit at production graph sizes. As a shuffle
        // join it hashes on `node`, the same key contrib just aggregated
        // on, and meta's exchange subtree is identical across the 5
        // iterations, so (AQE off) it materializes once and is
        // ReusedExchange'd like the edge shuffle — per-iteration cost is
        // one co-partitioned join, no per-node driver traffic at any
        // scale.
        pr = meta.join(contrib, "node")
          .select(col("node"), col("deg"), col("nn"),
            r6(lit(150000.0) / col("nn") +
              lit(0.85) * col("sc").cast("double")).as("pr"))
      }
      // The result pin materializes all five iterations before the
      // scope frees the meta pin.
      ResultPins.swap(s, "graph_copurchase_pagerank@" + sf,
        pr.select(col("node").as("p_partkey"), col("deg").as("degree"),
          col("pr").as("pagerank_ppm"))).orderBy("p_partkey")
      }
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), e AS (SELECT a.l_partkey AS u, b.l_partkey AS v FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1), nn AS (SELECT COUNT(*) AS c FROM deg), r0 AS (SELECT node, deg, ROUND(1000000.0 / nn.c + 1e-9, 6) AS pr FROM deg CROSS JOIN nn), r1 AS (SELECT d.node, d.deg, ROUND(150000.0 / nn.c + 0.85 * CAST(SUM(CAST(ROUND(r.pr / r.deg + 1e-9, 6) AS DECIMAL(18,6))) AS DOUBLE) + 1e-9, 6) AS pr FROM sym s JOIN r0 r ON r.node = s.u JOIN deg d ON d.node = s.v CROSS JOIN nn GROUP BY d.node, d.deg, nn.c), r2 AS (SELECT d.node, d.deg, ROUND(150000.0 / nn.c + 0.85 * CAST(SUM(CAST(ROUND(r.pr / r.deg + 1e-9, 6) AS DECIMAL(18,6))) AS DOUBLE) + 1e-9, 6) AS pr FROM sym s JOIN r1 r ON r.node = s.u JOIN deg d ON d.node = s.v CROSS JOIN nn GROUP BY d.node, d.deg, nn.c), r3 AS (SELECT d.node, d.deg, ROUND(150000.0 / nn.c + 0.85 * CAST(SUM(CAST(ROUND(r.pr / r.deg + 1e-9, 6) AS DECIMAL(18,6))) AS DOUBLE) + 1e-9, 6) AS pr FROM sym s JOIN r2 r ON r.node = s.u JOIN deg d ON d.node = s.v CROSS JOIN nn GROUP BY d.node, d.deg, nn.c), r4 AS (SELECT d.node, d.deg, ROUND(150000.0 / nn.c + 0.85 * CAST(SUM(CAST(ROUND(r.pr / r.deg + 1e-9, 6) AS DECIMAL(18,6))) AS DOUBLE) + 1e-9, 6) AS pr FROM sym s JOIN r3 r ON r.node = s.u JOIN deg d ON d.node = s.v CROSS JOIN nn GROUP BY d.node, d.deg, nn.c), r5 AS (SELECT d.node, d.deg, ROUND(150000.0 / nn.c + 0.85 * CAST(SUM(CAST(ROUND(r.pr / r.deg + 1e-9, 6) AS DECIMAL(18,6))) AS DOUBLE) + 1e-9, 6) AS pr FROM sym s JOIN r4 r ON r.node = s.u JOIN deg d ON d.node = s.v CROSS JOIN nn GROUP BY d.node, d.deg, nn.c) SELECT node AS p_partkey, deg AS degree, pr AS pagerank_ppm FROM r5 ORDER BY p_partkey"""),
  )

  /** LABEL PROPAGATION community detection (r9) over the co-purchase
    * graph — the fourth graph kernel, next to CC (connectivity),
    * triangles (local density) and PageRank (centrality): Raghavan et
    * al. 2007's LPA, made fully deterministic for the oracle gate by
    * (a) SYNCHRONOUS updates (every node re-labels from the previous
    * round's labels), (b) a pinned iteration count (3), and (c) an
    * explicit mode tie-break (count desc, then smallest label). Each
    * iteration is one equi-join of the symmetric edge list against the
    * current label vector + one count agg + one per-node rank over the
    * aggregated vote relation — per-iteration work O(edges), the same
    * 100 TB iterative-dataflow shape as PageRank (and unlike PageRank
    * it carries no float state at all: labels and votes are exact
    * integers, so cross-engine parity is free). Lineage stays a linear
    * 3-chain (labels referenced once per iteration, in the vote join);
    * one result pin materializes all three iterations as a single job,
    * then the pinned edge blocks are freed (clusterCc hygiene).
    */
  private val labelPropagation = Op(
    "graph_label_propagation",
    (s, sf) => Tables.withConfs(s, Seq(
      // Same sizing rationale as the other graph kernels: ~57k edge rows
      // at sf0.1 — 32-way shuffles would be all overhead. Materialized
      // eagerly (result pin) inside the scope so the conf is honored.
      "spark.sql.shuffle.partitions" -> "8")) {
      import org.apache.spark.sql.expressions.Window
      val edges = copurchaseEdges(s, sf)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      var labels = sym.select(col("u").as("node")).distinct()
        .withColumn("label", col("node"))
      for (_ <- 1 to 3) {
        labels = sym
          .join(labels.select(col("node").as("u"), col("label")), "u")
          .groupBy(col("v").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rk", row_number().over(Window.partitionBy("node")
            .orderBy(col("c").desc, col("label").asc)))
          .filter(col("rk") === 1)
          .select("node", "label")
      }
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
      val out = labels.join(sizes, "label")
        .select(col("node").as("p_partkey"), col("label").as("community"),
          col("community_size"))
      ResultPins.swap(s, "graph_label_propagation@" + sf, out).orderBy("p_partkey")
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), e AS (SELECT a.l_partkey AS u, b.l_partkey AS v FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym), v1 AS (SELECT s.v AS node, l.label, COUNT(*) AS c FROM sym s JOIN l0 l ON l.node = s.u GROUP BY 1, 2), l1 AS (SELECT node, label FROM v1 QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) = 1), v2 AS (SELECT s.v AS node, l.label, COUNT(*) AS c FROM sym s JOIN l1 l ON l.node = s.u GROUP BY 1, 2), l2 AS (SELECT node, label FROM v2 QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) = 1), v3 AS (SELECT s.v AS node, l.label, COUNT(*) AS c FROM sym s JOIN l2 l ON l.node = s.u GROUP BY 1, 2), l3 AS (SELECT node, label FROM v3 QUALIFY ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) = 1), cs AS (SELECT label, COUNT(*) AS community_size FROM l3 GROUP BY label) SELECT l3.node AS p_partkey, l3.label AS community, cs.community_size FROM l3 JOIN cs ON cs.label = l3.label ORDER BY p_partkey"""),
  )

  /** NEIGHBOR-SET JACCARD similarity (r9c) over the co-purchase graph —
    * the structural-similarity kernel (link prediction / "parts bought
    * in the same baskets as yours" recommendations) completing the graph
    * family: CC = connectivity, triangles = local density, PageRank =
    * centrality, LPA = communities, this = pairwise role similarity.
    * J(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, computed ONLY for pairs
    * that actually share ≥ 3 neighbors: the shared count comes from the
    * same Σ deg² wedge self-join triangles uses (each common neighbor m
    * emits the (a,b) pair once via m's adjacency rows, a < b by
    * construction), so no all-pairs stage exists — the blocking is the
    * graph itself. Union size by inclusion-exclusion from the degree
    * relation (two broadcast-sized joins). At 100 TB the wedge join is
    * the standard skew target: a celebrity node of degree d emits d²
    * pairs, capped in production by the same high-degree-vertex split
    * documented for triangles (docs/scale.md); the shared ≥ 3 support
    * floor is the output-side guard that keeps the result ~|E|-scale
    * (measured: 19k rows at sf0.01, 11k at sf0.1 vs 1.39M unfiltered).
    * Jaccard itself is an exact rational rounded once (rulebook §7.3).
    */
  private val neighborJaccard = Op(
    "graph_neighbor_jaccard",
    (s, sf) => Tables.withConfs(s, Seq(
      // Graph-kernel sizing (see triangles): ~57k edge rows at sf0.1;
      // AQE off per the adamic_adar job-floor note.
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false")) {
      import graft.ops.parity.r6
      // Shared cached prefix (r15): endpoint degrees ride the edge rows
      // (deg_v of each wedge leg IS deg_a/deg_b — functionally
      // dependent on the endpoint, so grouping by them adds no
      // granularity), eliminating the two post-aggregation degree joins
      // the r9c shape paid per invocation.
      val (symD, _) = copurchaseSymDeg(s, sf)
      val out = symD.as("s1").join(symD.as("s2"),
          col("s1.u") === col("s2.u") && col("s1.v") < col("s2.v"))
        .groupBy(col("s1.v").as("a"), col("s2.v").as("b"),
          col("s1.deg_v").as("deg_a"), col("s2.deg_v").as("deg_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 3)
        .select(col("a").as("u"), col("b").as("v"), col("shared"),
          col("deg_a"), col("deg_b"),
          r6(col("shared").cast("double") /
            (col("deg_a") + col("deg_b") - col("shared"))).as("jaccard"))
      // Result pin off the shared edge lineage, then free (clusterCc
      // hygiene: only the result's blocks outlive the op).
      ResultPins.swap(s, "graph_neighbor_jaccard@" + sf, out).orderBy("u", "v")
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), e AS (SELECT a.l_partkey AS u, b.l_partkey AS v FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1), w AS (SELECT s1.v AS a, s2.v AS b, COUNT(*) AS shared FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v GROUP BY 1, 2 HAVING COUNT(*) >= 3) SELECT w.a AS u, w.b AS v, CAST(w.shared AS BIGINT) AS shared, CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b, ROUND(1e-9 + CAST(w.shared AS DOUBLE) / (da.deg + db.deg - w.shared), 6) AS jaccard FROM w JOIN deg da ON da.node = w.a JOIN deg db ON db.node = w.b ORDER BY u, v"""),
  )

  /** k-CORE PEELING (r9c, k = 3, 3 synchronous rounds) over the
    * co-purchase graph — the degeneracy-ordering kernel that separates a
    * graph's cohesive core from its tree-like fringe (the standard
    * pre-filter before community/recommender logic, and the dedup-graph
    * cleanup that drops "attached by one accidental edge" members).
    * Each round removes every node whose CURRENT degree is < k and
    * restricts the edge relation to survivors — per-round one hash agg
    * of the shrinking edge list + two semi-join-shaped equi-joins
    * against the bounded survivor set, the same O(edges)-per-iteration
    * dataflow as the other iterative kernels. Rounds are pinned at 3
    * (LPA's determinism convention — a fixpoint loop at scale runs the
    * same rounds with a convergence check; 3 rounds reach the fixpoint
    * on this graph's fringe depth). Output: every surviving node with
    * its original degree and its degree inside the peeled subgraph —
    * all integer, parity free.
    */
  private val kcorePeel = Op(
    "graph_kcore_peel",
    (s, sf) => Tables.withConfs(s, Seq(
      // Graph-kernel sizing (see triangles): ~57k edge rows at sf0.1.
      "spark.sql.shuffle.partitions" -> "8")) {
      val edges = copurchaseEdges(s, sf)
      val sym0 = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val deg0 = sym0.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree0"))
      var sym = sym0
      for (_ <- 1 to 3) {
        val keep = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= 3).select("node")
        sym = sym
          .join(keep.select(col("node").as("u")), "u")
          .join(keep.select(col("node").as("v")), "v")
          .select("u", "v")
      }
      val out = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_degree"))
        .join(deg0, "node")
        .select(col("node").as("p_partkey"), col("degree0"), col("core_degree"))
      ResultPins.swap(s, "graph_kcore_peel@" + sf, out).orderBy("p_partkey")
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), e AS (SELECT a.l_partkey AS u, b.l_partkey AS v FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), d0 AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY 1), k1 AS (SELECT node FROM d0 WHERE d >= 3), s1 AS (SELECT s.u, s.v FROM sym s JOIN k1 a ON a.node = s.u JOIN k1 b ON b.node = s.v), d1 AS (SELECT u AS node, COUNT(*) AS d FROM s1 GROUP BY 1), k2 AS (SELECT node FROM d1 WHERE d >= 3), s2 AS (SELECT s.u, s.v FROM s1 s JOIN k2 a ON a.node = s.u JOIN k2 b ON b.node = s.v), d2 AS (SELECT u AS node, COUNT(*) AS d FROM s2 GROUP BY 1), k3 AS (SELECT node FROM d2 WHERE d >= 3), s3 AS (SELECT s.u, s.v FROM s2 s JOIN k3 a ON a.node = s.u JOIN k3 b ON b.node = s.v), cd AS (SELECT u AS node, COUNT(*) AS d FROM s3 GROUP BY 1) SELECT cd.node AS p_partkey, CAST(d0.d AS BIGINT) AS degree0, CAST(cd.d AS BIGINT) AS core_degree FROM cd JOIN d0 ON d0.node = cd.node ORDER BY p_partkey"""),
  )

  /** DEGREE ASSORTATIVITY (r9d) of the co-purchase graph — Newman's r:
    * the Pearson correlation of endpoint degrees over the directed edge
    * list, the one-number summary of whether hubs attach to hubs
    * (r > 0, social shape) or to leaves (r < 0, dependency/star shape)
    * — the first diagnostic a graph pipeline prints before choosing
    * between the hub-splitting and plain wedge strategies documented
    * for triangles/jaccard. Dataflow: degree hash-agg, two broadcast-
    * sized joins to annotate each directed edge with (deg_u, deg_v),
    * then ONE mergeable-moment agg (n, Σx, Σxy, Σx² — degrees are
    * integers, so every sum is EXACT in BIGINT; no decimal needed and
    * no float order anywhere until the final one-row division). By
    * symmetry of the directed list Σx = Σy and Σx² = Σy², so the
    * formula collapses to (nΣxy − (Σx)²) / (nΣx² − (Σx)²) — computed
    * as the identical IEEE chain on both engines, rounded once.
    */
  private val degreeAssortativity = Op(
    "graph_degree_assortativity",
    (s, sf) => Tables.withConfs(s, Seq(
      // Graph-kernel sizing (see triangles): ~57k edge rows at sf0.1.
      "spark.sql.shuffle.partitions" -> "8")) {
      import graft.ops.parity.r6
      val edges = copurchaseEdges(s, sf)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      val m = sym
        .join(deg.select(col("node").as("u"), col("deg").as("x")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("y")), "v")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
      m.select(col("n").as("n_directed_edges"),
        r6(col("sx").cast("double") / col("n")).as("avg_degree"),
        r6((col("n") * col("sxy") - col("sx") * col("sx")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("assortativity"))
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), e AS (SELECT a.l_partkey AS u, b.l_partkey AS v FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1), m AS (SELECT COUNT(*) AS n, SUM(du.deg) AS sx, SUM(du.deg * dv.deg) AS sxy, SUM(du.deg * du.deg) AS sxx FROM sym s JOIN deg du ON du.node = s.u JOIN deg dv ON dv.node = s.v) SELECT CAST(n AS BIGINT) AS n_directed_edges, ROUND(1e-9 + CAST(sx AS DOUBLE) / n, 6) AS avg_degree, ROUND(1e-9 + CAST(n * sxy - sx * sx AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS assortativity FROM m"""),
  )

  /** BFS hop levels (r10): shortest-path distance (≤ 4 hops) from the
    * smallest node of the co-purchase graph — the frontier-expansion
    * kernel (the "how far is everything from X" question under
    * recommendation / blast-radius analysis) completing the iterative
    * family next to PageRank (matvec), LPA (argmax propagation), k-core
    * (peeling) and CC (contraction). Proper frontier expansion: each
    * level joins ONLY the new frontier against the edge list, distincts
    * it, and anti-joins the visited set - O(frontier-adjacent edges)
    * per hop, the textbook Pregel round. (A recursive-CTE formulation
    * needs UNION-distinct to dedup multi-path visits, which Spark 4's
    * UnionLoop does not yet support - UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE
    * - and UNION ALL would enumerate PATHS, not nodes; the DataFrame
    * loop is the Spark-idiomatic BFS. The ORACLE uses exactly that
    * recursive UNION-distinct form, which DuckDB supports, with
    * MIN(depth) collapsing multi-path visits.) The 4-hop cap is the
    * fixed-rounds determinism convention of the other iterative
    * kernels.
    */
  private val bfsHops = Op(
    "graph_bfs_hops",
    (s, sf) => Tables.withConfs(s, Seq(
      "spark.sql.shuffle.partitions" -> "8")) {
      val edges = copurchaseEdges(s, sf)
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val src = sym.agg(min(col("u")).as("node"))
      var visited = src.withColumn("hops", lit(0))
      var frontier = src
      for (d <- 1 to 4) {
        val next = sym.join(frontier.withColumnRenamed("node", "u"), "u")
          .select(col("v").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti")
        visited = visited.union(next.withColumn("hops", lit(d)))
        frontier = next
      }
      visited.select(col("node"), col("hops").cast("int").as("hops"))
        .orderBy("node")
    },
    Some("""WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), e AS (SELECT a.l_partkey AS u, b.l_partkey AS v FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e), bfs(node, depth) AS (SELECT MIN(u), 0 FROM sym UNION SELECT c.v, bfs.depth + 1 FROM bfs JOIN sym c ON c.u = bfs.node WHERE bfs.depth < 4) SELECT node, CAST(MIN(depth) AS INT) AS hops FROM bfs GROUP BY node ORDER BY node"""),
  )

  /** Adamic-Adar link prediction (r10c) over the co-purchase graph —
    * [[neighborJaccard]]'s weighted sibling: shared neighbors count
    * 1/ln(deg) each, so a rare co-purchased part is stronger evidence of
    * a link than a ubiquitous one (Adamic & Adar 2003, the classical
    * "friends-of-friends, discounted by hubness" score). Same wedge-join
    * shape: Σ per-shared-neighbor work = Σ deg², never node pairs; the
    * per-wedge weight joins the degree relation at the wedge CENTER and
    * decimal-sums r6'd 1/ln terms (wedge centers have deg ≥ 2, so ln is
    * never 0). Candidate set gated at ≥ 3 shared neighbors — the same
    * support floor the Jaccard key uses, keeping output O(strong pairs).
    */
  /** HYBRID HUB-SALTED wedge enumeration (r12, the r11 verdict's item
    * 6) — the EXACTNESS-PRESERVING skew mechanism for the Σ deg² wedge
    * family: a power-law 100× graph concentrates the wedge work on hub
    * centers (one task owns a celebrity's whole deg² fan-out under the
    * plain self-join, because every adjacency row of center u hashes to
    * the same partition). Split the symmetric adjacency by CENTER
    * degree: low-degree centers take the plain equi-join on u; hub
    * centers join on (u, salt) with the left side salted by hash(v) and
    * the right side replicated across all `salts` buckets — each hub's
    * deg² pairs spread over `salts` tasks at the cost of replicating
    * only the HUB rows (degree > hubDeg, a vanishing fraction of a
    * power-law edge list) `salts`×. Every unordered wedge (a, b, ctr)
    * still appears exactly once (a wedge's center has one degree, so it
    * lands in exactly one regime; in the hub regime the left row owns
    * one salt and the right side matches it exactly once) — so the
    * output is IDENTICAL to the plain plan, row for row, so
    * graph_adamic_adar keeps its plain-formulation DuckDB oracle.
    * WedgeSkewSpec pins both halves: result equality and the bounded
    * per-task row maximum on a synthetic star graph.
    */
  private[graft] def saltedWedges(sym: DataFrame, hubDeg: Int, salts: Int): DataFrame = {
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    saltedWedgesD(
      sym.join(deg.select(col("node").as("u"), col("deg").as("deg_ctr")), "u"),
      hubDeg, salts)
  }

  /** [[saltedWedges]] over an edge relation that ALREADY carries the
    * center degree (deg_ctr) — the shared-prefix entry point (r15):
    * adamic_adar feeds the cached [[copurchaseSymDeg]] relation here so
    * the degree groupBy + join never re-runs per invocation.
    */
  private[graft] def saltedWedgesD(symD: DataFrame, hubDeg: Int, salts: Int): DataFrame = {
    val low = symD.filter(col("deg_ctr") <= hubDeg)
    val hub = symD.filter(col("deg_ctr") > hubDeg)
    val wLow = low.as("s1").join(low.as("s2"),
        col("s1.u") === col("s2.u") && col("s1.v") < col("s2.v"))
      .select(col("s1.v").as("a"), col("s2.v").as("b"),
        col("s1.u").as("ctr"), col("s1.deg_ctr").as("deg_ctr"))
    val hubL = hub.withColumn("salt", pmod(hash(col("v")), lit(salts)))
    val hubR = hub.withColumn("salt", explode(expr(s"sequence(0, ${salts - 1})")))
    val wHub = hubL.as("s1").join(hubR.as("s2"),
        col("s1.u") === col("s2.u") && col("s1.salt") === col("s2.salt") &&
          col("s1.v") < col("s2.v"))
      .select(col("s1.v").as("a"), col("s2.v").as("b"),
        col("s1.u").as("ctr"), col("s1.deg_ctr").as("deg_ctr"))
    wLow.union(wHub)
  }

  /** Since r13 the salted plan IS `graph_adamic_adar` (the r12
    * verdict's item 4: the mechanism was proven as a twin key in r12 —
    * WedgeSkewSpec pins both result equality and the bounded per-task
    * maximum — so carrying a second timed full wedge computation was
    * bench weight, not capability). hubDeg = 64 on the fixture
    * exercises BOTH regimes (the co-purchase graph has centers above
    * and below it); at a production power-law graph the threshold is
    * set from the degree histogram so the replicated fraction stays
    * small. Output is row-for-row identical to the plain self-join
    * (wedge multiset unchanged), so the DuckDB oracle keeps the plain
    * formulation.
    */
  private val adamicAdar = Op(
    "graph_adamic_adar",
    (s, sf) => Tables.withConfs(s, Seq(
      // Graph-kernel sizing (see triangles): ~57k edge rows at sf0.1.
      "spark.sql.shuffle.partitions" -> "8",
      // AQE off (r15, r14 verdict item 6): on this ≤57k-row graph every
      // adaptively re-planned exchange materializes as its own job, and
      // the job floor WAS the cost — measured 4.4 s → 2.4 s warm at
      // sf0.1 with identical output. The static plan's 8-partition
      // SMJ/HashAgg shapes are already right for the family; at
      // production scale the graph ops run under the session default
      // (AQE on) because the exchanges carry real data.
      "spark.sql.adaptive.enabled" -> "false")) {
      import graft.ops.parity.{dec, r6}
      val (symD, _) = copurchaseSymDeg(s, sf)
      val out = saltedWedgesD(
          symD.select(col("u"), col("v"), col("deg_u").as("deg_ctr")),
          hubDeg = 64, salts = 8)
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("shared"),
          sum(dec(r6(lit(1.0) / log(col("deg_ctr").cast("double"))))).as("aa"))
        .filter(col("shared") >= 3)
        .select(col("a").as("u"), col("b").as("v"), col("shared"),
          col("aa").cast("double").as("adamic_adar"))
      ResultPins.swap(s, "graph_adamic_adar@" + sf, out).orderBy("u", "v")
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), e AS (SELECT a.l_partkey AS u, b.l_partkey AS v FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY 1), w AS (SELECT s1.v AS a, s2.v AS b, COUNT(*) AS shared, SUM(CAST(ROUND(1e-9 + 1.0 / ln(CAST(deg AS DOUBLE)), 6) AS DECIMAL(18,6))) AS aa FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v JOIN deg ON deg.node = s1.u GROUP BY 1, 2 HAVING COUNT(*) >= 3) SELECT a AS u, b AS v, CAST(shared AS BIGINT) AS shared, CAST(aa AS DOUBLE) AS adamic_adar FROM w ORDER BY u, v"""),
  )

  /** ITEM-ITEM collaborative-filtering cosine (r11) — the recsys kernel
    * on the order-incidence bipartite graph: items are vectors over
    * orders (binary incidence), so sim(u,v) = co-occurrences /
    * √(n_u·n_v) — the classic item-CF similarity (Sarwar et al., WWW
    * 2001), which weights the co-purchase edges the other graph ops
    * treat as unweighted. Scale shape: Σ per-order pairs (the order
    * fan-out is basket-size-bounded), one hash-agg to pair counts, one
    * bounded join to per-item counts — never item×item.
    */
  private val itemCfCosine = Op(
    "graph_item_cf_cosine",
    (s, sf) => Tables.withConfs(s, Seq(
      "spark.sql.shuffle.partitions" -> "8")) {
      import graft.ops.parity.r6
      val items = Tables.lineitem(s, sf)
        .join(Tables.part(s, sf).filter(col("p_size") >= 40)
          .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val co = items.as("a").join(items.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("w"))
      val n = items.groupBy(col("l_partkey").as("node")).agg(count(lit(1)).as("n_orders"))
      val out = co
        .join(n.select(col("node").as("u"), col("n_orders").as("n_u")), "u")
        .join(n.select(col("node").as("v"), col("n_orders").as("n_v")), "v")
        .withColumn("cos_sim",
          r6(col("w").cast("double") /
            (sqrt(col("n_u").cast("double")) * sqrt(col("n_v").cast("double")))))
        // 0.05 on this sparse fixture keeps the top few percent of
        // pairs (max observed cosine ≈ 0.09 — baskets are wide and
        // co-occurrence is thin); the production knob is the same
        // filter at the deployment's own similarity floor.
        .filter(col("cos_sim") >= 0.05)
        .select("u", "v", "w", "n_u", "n_v", "cos_sim")
      ResultPins.swap(s, "graph_item_cf_cosine@" + sf, out).orderBy("u", "v")
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), co AS (SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), n AS (SELECT l_partkey AS node, COUNT(*) AS n_orders FROM items GROUP BY 1), s AS (SELECT co.u, co.v, co.w, nu.n_orders AS n_u, nv.n_orders AS n_v, ROUND(1e-9 + CAST(co.w AS DOUBLE) / (sqrt(CAST(nu.n_orders AS DOUBLE)) * sqrt(CAST(nv.n_orders AS DOUBLE))), 6) AS cos_sim FROM co JOIN n nu ON nu.node = co.u JOIN n nv ON nv.node = co.v) SELECT u, v, w, n_u, n_v, cos_sim FROM s WHERE cos_sim >= 0.05 ORDER BY u, v"""),
  )

  /** 2-HOP REACH (r11) — per-node friend-of-friend audience size: the
    * count of DISTINCT nodes exactly ≤2 hops away (excluding self), the
    * number a notification/recommendation fan-out planner reads. One
    * wedge join on the symmetric edges (Σ deg² work, the
    * neighbor_jaccard shape) + a distinct + a count — never an
    * all-pairs BFS.
    */
  private val twoHopReach = Op(
    "graph_2hop_reach",
    (s, sf) => Tables.withConfs(s, Seq(
      // AQE off per the adamic_adar job-floor note (r15).
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false")) {
      import graft.ops.parity.r6
      // Shared cached prefix (r15): the degree relation serves from the
      // same checkpoint the other wedge keys read.
      val (symD, degRel) = copurchaseSymDeg(s, sf)
      val sym = symD.select("u", "v")
      val deg = degRel.select(col("node").as("u"), col("deg").as("degree"))
      // nodes ≤ 2 hops: direct neighbors ∪ neighbors-of-neighbors.
      val reach2 = sym.select(col("u"), col("v").as("r"))
        .union(sym.as("s1").join(sym.as("s2"), col("s1.v") === col("s2.u"))
          .select(col("s1.u").as("u"), col("s2.v").as("r")))
        .filter(col("u") =!= col("r"))
        .distinct()
        .groupBy("u").agg(count(lit(1)).as("n_reach2"))
      val out = deg.join(reach2, Seq("u"))
        .select(col("u").as("p_partkey"), col("degree"), col("n_reach2"),
          r6(col("degree").cast("double") / col("n_reach2")).as("direct_share"))
      ResultPins.swap(s, "graph_2hop_reach@" + sf, out).orderBy("p_partkey")
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem JOIN part ON p_partkey = l_partkey WHERE p_size >= 40), e AS (SELECT a.l_partkey AS u, b.l_partkey AS v FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2), sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e), deg AS (SELECT u, COUNT(*) AS degree FROM sym GROUP BY 1), r2 AS (SELECT u, COUNT(*) AS n_reach2 FROM (SELECT DISTINCT u, r FROM (SELECT u, v AS r FROM sym UNION ALL SELECT s1.u, s2.v AS r FROM sym s1 JOIN sym s2 ON s2.u = s1.v) z WHERE u <> r) d GROUP BY u) SELECT deg.u AS p_partkey, deg.degree, r2.n_reach2, ROUND(1e-9 + CAST(deg.degree AS DOUBLE) / r2.n_reach2, 6) AS direct_share FROM deg JOIN r2 ON r2.u = deg.u ORDER BY p_partkey"""),
  )

  val ops: Seq[Op] = Seq(clusterCc, clusterCcAppend, clusterCcDelete, copurchaseTriangles, copurchasePagerank,
    labelPropagation, neighborJaccard, kcorePeel, degreeAssortativity,
    bfsHops, adamicAdar, itemCfCosine, twoHopReach)
}
