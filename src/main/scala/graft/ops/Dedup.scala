package graft.ops

import graft.{Op, OpGroup, ResultPins, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import parity.r6

/** §2.I — dedup & similarity: the content-hash entity-resolution pattern
  * that is cobradb's single most load-bearing semantic
  * (cobradb/parse.py :: hash_reaction canonicalizes sorted
  * (metabolite, coeff) pairs then md5s; cobradb/loading/model_loading.py
  * groups by that hash and resolves duplicates by preference), scaled to
  * the LLM-data-pipeline surface: exact hash dedup, order-insensitive
  * canonical hashing, exact set-Jaccard pairing, and portable MinHash.
  *
  * 100 TB design: pairwise ops never run as token-level self-joins here —
  * with a hot vocabulary, sum(df²) explodes (448M join rows at sf0.1
  * already). Instead each doc's token set is packed into a fixed-width
  * bitmask (vocab-indexed bits) and pairs are compared with popcount —
  * O(1) per pair, codegen-able, and the natural prefilter for an LSH
  * band-bucketed candidate stage at real scale.
  */
object Dedup extends OpGroup {

  /** Distinct tokens per doc — the shared first stage. The scan is
    * spread BEFORE the explode (shuffles docs, not tokens): the MinHash
    * signature stage (16 md5s per token instance) and the mask build run
    * pre-shuffle and would otherwise inherit the single-file scan's one
    * partition.
    */
  private def docTokens(s: SparkSession, sf: String): DataFrame =
    Tables.spread(s, Tables.documents(s, sf))
      .select(col("doc_id"), explode(array_distinct(split(lower(col("text")), " "))).as("word"))

  /** Exact content dedup: group by md5 of the lowercased text, keep the
    * smallest doc_id as canonical, list members sorted (hash_reaction +
    * preference-ordered duplicate resolution). All groups are emitted
    * with an is_dup flag: at sf0.01 the corpus has no exact dups (the
    * flag is false everywhere); sf0.1 has 8 dup groups.
    */
  private val exactHash = Op(
    "dedup_exact_hash",
    (s, sf) =>
      Tables.documents(s, sf)
        .groupBy(md5(lower(col("text"))).as("text_hash"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("canonical_doc_id"),
          concat_ws(",", sort_array(collect_list(col("doc_id")))).as("doc_ids"),
        )
        .withColumn("is_dup", col("n_docs") > 1)
        .orderBy("text_hash"),
    Some("""SELECT md5(lower(text)) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id, STRING_AGG(doc_id, ',' ORDER BY doc_id) AS doc_ids, COUNT(*) > 1 AS is_dup FROM documents GROUP BY md5(lower(text)) ORDER BY text_hash"""),
  )

  /** Order-insensitive canonical hash: md5 of the sorted token multiset
    * — permutation-invariant, exactly the sort-before-hash step of
    * hash_reaction. Pure built-ins (sort_array ∘ concat_ws ∘ md5); the
    * scalacheck suite asserts invariance under token permutation.
    */
  private val canonicalHashSorted = Op(
    "dedup_canonical_hash_sorted",
    (s, sf) =>
      Tables.documents(s, sf)
        .select(
          col("doc_id"),
          md5(concat_ws(" ", sort_array(split(lower(col("text")), " ")))).as("canon_hash"),
        )
        .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(array_to_string(list_sort(string_split(lower(text), ' ')), ' ')) AS canon_hash FROM documents ORDER BY doc_id"""),
  )

  /** Vocab-indexed token bitmasks: tokens → bit positions (deterministic
    * sorted vocab), each doc packs its token SET into ceil(V/64) longs.
    * Returns (doc_id, mask, n) plus the intersection-popcount expression
    * for the chosen width (expects a_mask/b_mask columns on the pair
    * rows). Shared by the brute-force and LSH-blocked Jaccard ops.
    */
  private[ops] def tokenMasks(s: SparkSession, sf: String): (DataFrame, org.apache.spark.sql.Column) = {
    val tok = docTokens(s, sf)
    // Dense bit assignment: any word→bit BIJECTION yields identical
    // popcount-Jaccard, so the words are numbered in parallel
    // ([[Tables.numbered]]); the masks relation is read twice (a/b sides
    // of the pair join), which is why that numbering must be stable. The
    // numbered frame carries its row count, so sizing the masks runs no job.
    val vocab = numberWords(tok, 0L)
    val maskWords = ((ResultPins.rowCount(vocab) + 63) / 64).toInt
    // No broadcast hint on the dictionary: the distinct-words relation is
    // corpus-vocabulary-sized — unbounded at web scale — so a forced hint
    // would override the statistics that correctly flip this to a shuffle
    // join once the vocab outgrows the threshold (the r10 verdict's weak
    // class). The join stays an equi-join on word; AQE/cost model still
    // elect a runtime broadcast while the measured vocab is small.
    // Pinned by PlanShapeSpec's ResolvedHint ban for the sim_* keys.
    val bitsPerDoc = tok.join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("bit")).as("bits"))
    // V ≤ 64: one long per doc and the pair loop is three codegen'd
    // integer ops. Wider vocabularies fall back to a long-array mask
    // with (interpreted) HOF popcount — same semantics, same oracle.
    val masks =
      if (maskWords == 1)
        bitsPerDoc.select(col("doc_id"),
          expr("aggregate(bits, 0L, (acc, b) -> acc | shiftleft(1L, cast(b as int)))").as("mask"),
          size(col("bits")).as("n"))
      else
        bitsPerDoc.select(col("doc_id"),
          expr(s"aggregate(bits, array_repeat(0L, $maskWords), (acc, b) -> transform(acc, (x, j) -> if(j = cast(b div 64 as int), x | shiftleft(1L, cast(b % 64 as int)), x)))").as("mask"),
          size(col("bits")).as("n"))
    val interExpr =
      if (maskWords == 1) expr("bit_count(a_mask & b_mask)")
      else { graft.functions.MaskIntersect.register(s)
        // Codegen'd fused popcount loop (r15) in place of the
        // interpreted two-HOF pass — this runs once per candidate pair,
        // the innermost loop of every mask verify.
        expr("mask_intersect(a_mask, b_mask)") }
    (masks, interExpr)
  }

  /** Attach masks to (a_doc_id, b_doc_id) pair rows, compute the exact
    * popcount intersection, keep pairs whose i/denom clears `thr`
    * (filter on the RAW quotient, emit the rounded value — both engines
    * compare the same exact rational, so the boundary can't flip on the
    * rounding). `denom(i, a_n, b_n)` selects the measure: union for
    * Jaccard, min-size for containment — ONE verify discipline for
    * every similarity measure on the mask kernel.
    */
  private def maskVerify(pairs: DataFrame, masks: DataFrame,
      interExpr: org.apache.spark.sql.Column, thr: Double,
      denom: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      outName: String): DataFrame = {
    val am = masks.select(col("doc_id").as("a_doc_id"), col("mask").as("a_mask"), col("n").as("a_n"))
    val bm = masks.select(col("doc_id").as("b_doc_id"), col("mask").as("b_mask"), col("n").as("b_n"))
    // No broadcast hint: the mask relation is corpus-sized (unbounded at
    // 100 TB) — shuffle-hash-join on the doc ids and let AQE demote to a
    // runtime broadcast only when the actual size allows it.
    pairs.join(am, "a_doc_id").join(bm, "b_doc_id")
      .withColumn("i", interExpr)
      .withColumn("d", denom(col("i"), col("a_n"), col("b_n")))
      .filter(col("i").cast("double") / col("d") >= thr)
      .select(col("a_doc_id"), col("b_doc_id"),
        r6(col("i").cast("double") / col("d")).as(outName))
  }

  private def jaccardVerify(pairs: DataFrame, masks: DataFrame,
      interExpr: org.apache.spark.sql.Column, thr: Double): DataFrame =
    maskVerify(pairs, masks, interExpr, thr, (i, a, b) => a + b - i, "jaccard")

  /** Exact token-set Jaccard ≥ 0.9 over ALL doc pairs — the O(n²)
    * baseline the LSH op prunes. Pair loop is a nested-loop join over
    * broadcast masks; per-pair cost is a few long ops (popcount) instead
    * of a list intersection.
    */
  private val jaccardPairs = Op(
    "sim_jaccard_pairs",
    (s, sf) => {
      val (masks, interExpr) = tokenMasks(s, sf)
      val pairs = masks.select(col("doc_id").as("a_doc_id"))
        .join(masks.select(col("doc_id").as("b_doc_id")), col("a_doc_id") < col("b_doc_id"))
      jaccardVerify(pairs, masks, interExpr, 0.9)
        .orderBy("a_doc_id", "b_doc_id")
    },
    Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sets AS (SELECT doc_id, list(word ORDER BY word) AS ws, count(*) AS n FROM tok GROUP BY doc_id), pairs AS (SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, len(list_intersect(a.ws, b.ws)) AS i, a.n + b.n - len(list_intersect(a.ws, b.ws)) AS u FROM sets a JOIN sets b ON a.doc_id < b.doc_id) SELECT a_doc_id, b_doc_id, ROUND(1e-9 + CAST(i AS DOUBLE) / u, 6) AS jaccard FROM pairs WHERE CAST(i AS DOUBLE) / u >= 0.9 ORDER BY a_doc_id, b_doc_id"""),
  )

  /** CONTAINMENT near-dup pairs (r5, blocked r6): max-containment
    * |A∩B| / min(|A|,|B|) ≥ 0.9 — the asymmetric measure that catches
    * PARTIAL copies (one doc's token set nearly inside another's),
    * which Jaccard structurally misses when sizes differ (A⊂B with
    * |B|=2|A| has J=0.5 but containment 1.0). Banded MinHash does NOT
    * preserve containment, so the LSH op's bands can't be reused; the
    * lossless candidate stage here is PREFIX FILTERING (Chaudhuri et
    * al., ICDE 2006) + the POSITIONAL filter (Xiao et al. PPJoin,
    * WWW 2008), both under one global rarest-first token order:
    *
    *  - order the vocab by (document-frequency ASC, word) and number
    *    each doc's tokens 0..n-1 in that order (its bit i IS its rank);
    *  - a qualifying pair needs overlap α = ⌈t·min(|A|,|B|)⌉, and its
    *    LOWEST-ranked common token w must sit at position ≤ n−α in BOTH
    *    docs (all ≥α common tokens rank ≥ w) — so only each doc's
    *    (n−α+1)-token prefix ever probes, and build rows deeper than
    *    n_b−α_min are join-filtered;
    *  - each pair is emitted from w ONLY (first-collision, the LSH op's
    *    trick): "no lower-ranked common token" is one AND + count-
    *    trailing-zeros on the rank-ordered masks — candidates are
    *    unique by construction, no distinct shuffle;
    *  - the exact popcount verify then applies the threshold.
    *
    * Work = Σ_r probe_df(r)·df(r): on a Zipfian vocab the prefix sits
    * on RARE tokens and this collapses to ~the qualifying pairs — the
    * 100 TB path. THIS fixture is the adversarial floor (31-word vocab,
    * every word in ~75% of docs → ~every pair is a true candidate), so
    * the blocked plan necessarily streams ~pair-count rows; it still
    * beats the old all-pairs nested loop's n²/2 because probes exist
    * only for prefixes. No O(n²) operator appears in the plan.
    */
  /** The blocked containment pipeline, pre-sort — package-private so the
    * spec can assert output equality against an inline all-pairs
    * recomputation (the candidate stage must be LOSSLESS, not just fast).
    */
  private[ops] def containmentBlockedPairs(s: SparkSession, sf: String): DataFrame = {
    val t = 0.9
    val tok = docTokens(s, sf)
    // Rarest-first global token order (df ASC, word ASC tiebreak). The
    // ranked vocab is the bounded dictionary (31 words here; frequency-
    // capped into a bounded dict at real scale), so the single-partition
    // rank window runs over a bounded relation, never the corpus.
    val ranked = tok.groupBy("word").agg(count(lit(1)).as("df"))
      .withColumn("r",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("df"), col("word"))) - 1).cast("long"))
      .select("word", "r")
    val vocabSize = ranked.count() // bounded-dict sizing action (31 here)
    val maskWords = ((vocabSize + 63) / 64).toInt
    // Rank-ordered bitmasks: bit i of a doc's mask IS global rank i, so
    // "lowest-ranked common token" is AND + count-trailing-zeros. V ≤ 64
    // stays a single codegen'd long; wider vocabs fall back to the long-
    // array HOF kernel (same semantics, same oracle) like tokenMasks.
    val maskExpr =
      if (maskWords == 1)
        expr("aggregate(rs, 0L, (acc, b) -> acc | shiftleft(1L, cast(b as int)))")
      else
        expr(s"aggregate(rs, array_repeat(0L, $maskWords), (acc, b) -> transform(acc, (x, j) -> if(j = cast(b div 64 as int), x | shiftleft(1L, cast(b % 64 as int)), x)))")
    val interCol =
      if (maskWords == 1) expr("bit_count(a_mask & b_mask)")
      else { graft.functions.MaskIntersect.register(s)
        // Codegen'd fused popcount loop (r15) in place of the
        // interpreted two-HOF pass — this runs once per candidate pair,
        // the innermost loop of every mask verify.
        expr("mask_intersect(a_mask, b_mask)") }
    // Rank of the lowest set bit of a_mask & b_mask (nonzero by join
    // construction: both docs contain the joined word). ctz(x) =
    // popcount((x & -x) - 1), pure codegen on the narrow path.
    val firstCommon =
      if (maskWords == 1)
        expr("cast(bit_count(((a_mask & b_mask) & -(a_mask & b_mask)) - 1) as bigint)")
      else
        expr(s"aggregate(sequence(0, ${maskWords - 1}), cast(-1 as bigint), (acc, j) -> if(acc >= 0, acc, if((element_at(a_mask, cast(j + 1 as int)) & element_at(b_mask, cast(j + 1 as int))) != 0, cast(j as bigint) * 64 + cast(bit_count(((element_at(a_mask, cast(j + 1 as int)) & element_at(b_mask, cast(j + 1 as int))) & -(element_at(a_mask, cast(j + 1 as int)) & element_at(b_mask, cast(j + 1 as int)))) - 1) as bigint), cast(-1 as bigint))))")
    // α = ⌈t·n⌉ computed as the verify's own double compare would (the
    // −1e-9 shift keeps one-ULP ceil noise from ever PRUNING a pair the
    // popcount verify accepts; a one-token-longer prefix only adds
    // candidates the verify rejects).
    // Same ResolvedHint ban as tokenMasks: the rarest-first ranked vocab
    // is corpus-vocabulary-sized, so no forced broadcast — the optimizer
    // decides from measured size (PlanShapeSpec-pinned).
    val docs = tok.join(ranked, "word")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("r"))).as("rs"))
      .withColumn("n", size(col("rs")))
      .withColumn("alpha", ceil(lit(t) * col("n") - lit(1e-9)).cast("int"))
      .withColumn("mask", maskExpr)
    // Probe = each doc's (n−α+1)-token PREFIX only (rarest-first order);
    // build = the full positional token index. The probe relation is
    // O(docs·(1−t)·n̄) — smaller than the index but still corpus-LINEAR,
    // so it carries no broadcast hint (r11 verdict): the join is a plain
    // equi-join on the token key that shuffles fine, and the cost model
    // elects broadcast on its own while the probe is measured-small.
    val probe = docs.select(col("doc_id").as("a_doc_id"), col("n").as("a_n"),
      col("alpha"), col("mask").as("a_mask"),
      explode(expr("slice(rs, 1, n - alpha + 1)")).as("r"))
    val build = docs.select(col("doc_id").as("b_doc_id"), col("n").as("b_n"),
      col("mask").as("b_mask"),
      posexplode(col("rs")).as(Seq("b_pos", "r")))
    // Role order: a is the strictly-smaller set (ties by doc_id), so
    // a_n IS min(|A|,|B|) and each unordered pair has exactly one role
    // assignment. Positional filter: the first common token must sit at
    // position ≤ n_b − α in the build doc too, else overlap < α.
    val roleOrder = col("a_n") < col("b_n") ||
      (col("a_n") === col("b_n") && col("a_doc_id") < col("b_doc_id"))
    val positional = col("b_pos") <= col("b_n") - col("alpha")
    probe.join(build, Seq("r"))
      .filter(roleOrder && positional && firstCommon === col("r"))
      .withColumn("i", interCol)
      .filter(col("i").cast("double") / col("a_n") >= t)
      .select(
        least(col("a_doc_id"), col("b_doc_id")).as("a_doc_id"),
        greatest(col("a_doc_id"), col("b_doc_id")).as("b_doc_id"),
        r6(col("i").cast("double") / col("a_n")).as("containment"))
  }

  private val containmentPairs = Op(
    "sim_containment_pairs",
    (s, sf) => containmentBlockedPairs(s, sf).orderBy("a_doc_id", "b_doc_id"),
    Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sets AS (SELECT doc_id, list(word ORDER BY word) AS ws, count(*) AS n FROM tok GROUP BY doc_id), pairs AS (SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, len(list_intersect(a.ws, b.ws)) AS i, LEAST(a.n, b.n) AS mn FROM sets a JOIN sets b ON a.doc_id < b.doc_id) SELECT a_doc_id, b_doc_id, ROUND(1e-9 + CAST(i AS DOUBLE) / mn, 6) AS containment FROM pairs WHERE CAST(i AS DOUBLE) / mn >= 0.9 ORDER BY a_doc_id, b_doc_id"""),
  )

  /** Per-doc K-permutation MinHash signature (s0..s{K-1}): K md5s per
    * (doc, word) pair, min-aggregated map-side. A dedup-by-distinct-word
    * variant (compute 16×vocab digests, join back to pairs) was A/B'd
    * and is SLOWER here (5.6 s vs 4.6 s at sf0.1): codegen'd md5 on
    * short strings costs less than the extra distinct + join shuffles
    * it saves. Revisit only if the hash gets expensive (e.g. longer
    * shingles) or the vocab/pair ratio collapses.
    */
  private[ops] def minhashSigs(s: SparkSession, sf: String, k: Int): DataFrame = {
    // min over STRING cannot hash-aggregate (var-length buffer), so this
    // pass plans as SortAggregate. A fixed-width two-long custom
    // DeclarativeAggregate (min over the hex string's sign-flipped
    // 128-bit halves — bit-identical output) was built and A/B'd in r16:
    // same-session interleaved noop reps measured OLD 0.493/0.599 s
    // (min/med) vs NEW 0.511/0.623 s at sf0.1 — the md5 evaluation
    // dominates and the map-side sort of ~25k rows/partition is free, so
    // the custom agg was REVERTED. Revisit only if the token relation's
    // per-partition volume grows orders of magnitude.
    val sigCols = (0 until k).map(i =>
      min(md5(concat(lit(s"$i|"), col("word")))).as(s"s$i"))
    docTokens(s, sf).groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** Portable MinHash (Broder 1997), k=8, engine-deterministic: band
    * signature i = min over tokens of md5("i|token") — a string min, so
    * Spark and DuckDB agree byte-for-byte. The match threshold is ALL 8
    * bands, which is algebraically an equi-join on the concatenated
    * signature — so candidates come from hash-bucketing on one 128-bit
    * key (sum of bucket² rows, i.e. exactly the output pairs), not from
    * the per-band bucket join whose intermediate is ~8× the pair count.
    * A lower r-of-k threshold would use per-band buckets (LSH banding)
    * with the same dataflow.
    */
  private val minhashPortable = Op(
    "sim_minhash_portable",
    (s, sf) => {
      val K = 8
      val sigs = minhashSigs(s, sf, K)
        .select(col("doc_id"),
          md5(concat_ws("|", (0 until K).map(i => col(s"s$i")): _*)).as("full_sig"))
      val a = sigs.select(col("doc_id").as("a_doc_id"), col("full_sig"))
      val b = sigs.select(col("doc_id").as("b_doc_id"), col("full_sig").as("b_full_sig"))
      a.join(b, col("full_sig") === col("b_full_sig") && col("a_doc_id") < col("b_doc_id"))
        .select(col("a_doc_id"), col("b_doc_id"), lit(8L).as("n_agree"))
        .orderBy("a_doc_id", "b_doc_id")
    },
    Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sig AS (SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || '|' || word)) AS sig FROM tok CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS band) bands GROUP BY doc_id, band), cand AS (SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, count(*) AS n_agree FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT a_doc_id, b_doc_id, n_agree FROM cand WHERE n_agree >= 8 ORDER BY a_doc_id, b_doc_id"""),
  )

  /** Banded MinHash LSH (Broder 1997 / Leskovec-Rajaraman-Ullman ch.3):
    * 16 md5-MinHash rows → 4 bands of 4 rows → docs sharing ANY band key
    * become candidates (equi-join on (band_idx, band_hash) — the bucket
    * join) → candidates verified by exact bitmask Jaccard ≥ 0.9. For
    * j = 0.9 the band collision curve gives recall 1−(1−j⁴)⁴ ≈ 0.99
    * (measured 8975/9020 = 99.5% of the brute-force op's pairs at
    * sf0.01); the work drops from all O(n²) pairs to Σ bucket² — THE
    * scale path for near-dup at 100 TB, where the brute-force
    * sim_jaccard_pairs plan is unrunnable. Same md5("band|token") hash
    * scheme as sim_minhash_portable, so candidates are engine-portable
    * and the whole pipeline oracles exactly.
    */
  /** The LSH pipeline through verification, pre-sort — shared between the
    * keyed op and [[Clusters]]' near-dup graph build.
    */
  private[ops] def minhashLshPairs(s: SparkSession, sf: String,
      sigsIn: Option[DataFrame] = None,
      masksIn: Option[(DataFrame, org.apache.spark.sql.Column)] = None): DataFrame = {
    val K = 16; val R = 4; val B = K / R
    // Callers that consume several pairers over one corpus (cluster CC)
    // pass pre-persisted sigs/masks: the band self-join and the verify
    // both consume their doc-level relation twice, and static planning
    // does not reliably unify the duplicated subtrees.
    val sigs = sigsIn.getOrElse(minhashSigs(s, sf, K))
    // Band keys are xxhash64 of the R concatenated sigs, not the md5
    // string: the bucket join only needs EQUALITY, and a long key keeps
    // the 11M-row exploded band table and its join state 4× smaller.
    // A 2⁻⁶⁴ hash collision can only ADD a candidate, which the exact
    // verify then rejects — output unchanged.
    val bandKeyCols = (0 until B).map(b =>
      xxhash64(concat_ws("|", (0 until R).map(r => col(s"s${b * R + r}")): _*)))
    val withKeys = sigs.select(col("doc_id") +:
      bandKeyCols.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
    val bands = withKeys.select((col("doc_id") +:
      (0 until B).map(i => col(s"k$i"))) :+
      posexplode(array((0 until B).map(i => col(s"k$i")): _*)).as(Seq("band_idx", "bkey")): _*)
    // FIRST-COLLISION emission: each doc row carries its B band keys as
    // flat long columns, and a pair colliding in m bands is emitted only
    // from the smallest shared band index (no earlier band agrees) —
    // candidate pairs are unique BY CONSTRUCTION, so the 4×-duplicate
    // verify work and the post-verify distinct shuffle (the two largest
    // costs of the previous formulation: 11.2M verified rows + a
    // 3.8M-row distinct, measured at sf0.1) are both gone. The predicate
    // is UNROLLED scalar comparisons (a HOF over key arrays was tried
    // first and measured SLOWER than the distinct it replaced — higher-
    // order functions don't codegen, and the interpreted filter on the
    // 11M-row joined stream cost more than it saved).
    val first = (1 until B).map(i =>
      col("band_idx") === i && (0 until i)
        .map(j => col(s"a_k$j") =!= col(s"b_k$j")).reduce(_ && _))
      .foldLeft(col("band_idx") === 0)(_ || _)
    def side(p: String) = bands.select(col("doc_id").as(s"${p}_doc_id") +:
      (0 until B).map(i => col(s"k$i").as(s"${p}_k$i")) :+
      col("band_idx") :+ col("bkey"): _*)
    val cand = side("a").join(side("b"), Seq("band_idx", "bkey"))
      .filter(col("a_doc_id") < col("b_doc_id"))
      .filter(first)
      .select("a_doc_id", "b_doc_id")
    val (masks, interExpr) = masksIn.getOrElse(tokenMasks(s, sf))
    jaccardVerify(cand, masks, interExpr, 0.9)
  }

  private val minhashLsh = Op(
    "dedup_minhash_lsh",
    (s, sf) => minhashLshPairs(s, sf).orderBy("a_doc_id", "b_doc_id"),
    Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sig AS (SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || '|' || word)) AS sig FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) bands GROUP BY doc_id, band), bk AS (SELECT doc_id, band // 4 AS band_idx, md5(string_agg(sig, '|' ORDER BY band)) AS bkey FROM sig GROUP BY doc_id, band // 4), cand AS (SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id), sets AS (SELECT doc_id, list(word ORDER BY word) AS ws, count(*) AS n FROM tok GROUP BY doc_id), v AS (SELECT c.a_doc_id, c.b_doc_id, len(list_intersect(sa.ws, sb.ws)) AS i, sa.n + sb.n AS nn FROM cand c JOIN sets sa ON sa.doc_id = c.a_doc_id JOIN sets sb ON sb.doc_id = c.b_doc_id) SELECT a_doc_id, b_doc_id, ROUND(1e-9 + CAST(i AS DOUBLE) / (nn - i), 6) AS jaccard FROM v WHERE CAST(i AS DOUBLE) / (nn - i) >= 0.9 ORDER BY a_doc_id, b_doc_id"""),
  )

  /** 60-bit SimHash (Charikar 2002) over the token multiset: each token
    * hashes to 60 bits (first 15 hex chars of md5 — stays in a signed
    * long), each bit position accumulates +1/−1 by token frequency, the
    * sign vector is the fingerprint. Near-dup docs differ in few bits
    * (Hamming distance), enabling radius search by band-splitting the
    * fingerprint. Pure HOFs — one linear pass, no explode.
    */
  private val simhash = Op(
    "dedup_simhash",
    (s, sf) => {
      graft.functions.SimHash60.register(s)
      Tables.spread(s, Tables.documents(s, sf))
        .withColumn("hs",
          expr("transform(split(lower(text), ' '), w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint))"))
        // Native one-pass codegen'd fold (graft.functions.SimHash60) —
        // bit-identical to the oracle's per-bit list_reduce dual.
        .withColumn("simhash", expr("simhash60(hs)"))
        .select(col("doc_id"), col("simhash"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, list_reduce(list_transform(generate_series(0, 59), j -> CASE WHEN list_reduce(list_transform(hs, h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END), (a, b) -> a | b) AS simhash FROM (SELECT doc_id, list_transform(string_split(lower(text), ' '), w -> CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)) AS hs FROM documents) t ORDER BY doc_id"""),
  )

  /** Hamming-radius search over the 60-bit SimHash — the EXACT banded
    * companion to [[simhash]] (scale.md's "band-split into radius+1
    * bands"): all pairs within Hamming distance ≤ 8. Pigeonhole: two
    * hashes differing in ≤ 8 of 60 bits agree EXACTLY on at least one of
    * 9 disjoint bands, so candidates = docs sharing any (band, value)
    * bucket — an equi-join, Σ bucket² work — and the codegen'd
    * `bit_count(a ^ b) ≤ 8` verify is exact, making the whole pipeline
    * deterministic (100% recall by construction, unlike MinHash LSH's
    * probabilistic curve) and therefore fully oracle-able with the same
    * banding in SQL. The one-long simhash rides the band explode as
    * payload, so verification needs no second join.
    */
  /** The per-doc 60-bit fingerprint relation of the pigeonhole pipeline,
    * split out so multi-pairer consumers ([[Clusters]]' near-dup graph
    * build) can persist it across both band-join sides.
    */
  private[graft] def simhashFingerprints(s: SparkSession, sf: String): DataFrame = {
      graft.functions.SimHash60.register(s)
      Tables.spread(s, Tables.documents(s, sf))
        .withColumn("hs",
          expr("transform(split(lower(text), ' '), w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint))"))
        // Native one-pass codegen'd fold (graft.functions.SimHash60) in
        // place of the 60-pass interpreted HOF. coalesce is
        // LOAD-BEARING, not defensive: it makes the expression
        // non-nullable, so the join below cannot infer an
        // `isnotnull(bval)` constraint — which Catalyst would rewrite as
        // isnotnull(<the entire inlined simhash fold>) and push below the
        // spread exchange onto the SINGLE-PARTITION scan: tokens×60
        // md5+fold work, once per doc, on one core (measured 25 s
        // instead of ~3 s at sf0.1 with the HOF; same trap applies).
        .withColumn("simhash", coalesce(expr("simhash60(hs)"), lit(0L)))
        .select(col("doc_id"), col("simhash"))
        // Materialization barrier: without it CollapseProject inlines the
        // 60×tokens interpreted HOF into the Generate stage, re-evaluating
        // it per exploded band row on BOTH join sides (~90× per doc). The
        // exchange pins simhash to one evaluation per doc; O(docs × 16
        // bytes) through the wire — linear at any scale.
        .repartition(col("doc_id"))
  }

  private val shBandLens = Seq(7, 7, 7, 7, 7, 7, 6, 6, 6) // 9 bands cover 60 bits
  private val shBandOffs = shBandLens.scanLeft(0)(_ + _).init.zip(shBandLens)

  /** Explode a (doc_id, simhash) relation into its 9 pigeonhole band
    * rows (band_idx, bval = the band's bit-slice).
    */
  private def shBands(sh: DataFrame): DataFrame = {
    val bandCols = shBandOffs.zipWithIndex.map { case ((o, l), i) =>
      struct(lit(i).as("band_idx"),
        expr(s"shiftright(simhash, $o) & ${(1L << l) - 1}").as("bval"))
    }
    sh.select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band_idx").as("band_idx"), col("b.bval").as("bval"))
  }

  // FIRST-COLLISION emission (the LSH op's trick, free here): band
  // values are bit-slices of the fingerprint both sides already
  // carry, so "no earlier band agrees" is pure codegen'd long
  // arithmetic on (a_sh, b_sh) — each colliding pair is emitted
  // from its smallest shared band only, and the post-filter
  // distinct shuffle disappears.
  private def shFirstCollision: org.apache.spark.sql.Column = {
    def bandNe(j: Int): org.apache.spark.sql.Column = {
      val (o, l) = shBandOffs(j)
      expr(s"(shiftright(a_sh, $o) & ${(1L << l) - 1}) != (shiftright(b_sh, $o) & ${(1L << l) - 1})")
    }
    (1 until shBandLens.size).map(i =>
      col("band_idx") === i && (0 until i).map(bandNe).reduce(_ && _))
      .foldLeft(col("band_idx") === 0)(_ || _)
  }

  private def shSide(bands: DataFrame, pfx: String): DataFrame =
    bands.select(col("doc_id").as(s"${pfx}_doc_id"), col("simhash").as(s"${pfx}_sh"),
      col("band_idx"), col("bval"))

  private def shVerify(cand: DataFrame, r: Int): DataFrame =
    cand.filter(shFirstCollision)
      .filter(expr("bit_count(a_sh ^ b_sh)") <= r)
      .select(col("a_doc_id"), col("b_doc_id"),
        expr("bit_count(a_sh ^ b_sh)").cast("int").as("hamming"))

  private[graft] def simhashHammingPairs(s: SparkSession, sf: String,
      shIn: Option[DataFrame] = None): DataFrame = {
      val sh = shIn.getOrElse(simhashFingerprints(s, sf))
      val bands = shBands(sh)
      shVerify(shSide(bands, "a").join(shSide(bands, "b"), Seq("band_idx", "bval"))
        .filter(col("a_doc_id") < col("b_doc_id")), 8)
  }

  /** BATCH-INCIDENT SimHash Hamming pairs (r15, the r14 verdict's item
    * 1): the incremental cluster merge only needs pairs touching the
    * ingest batch, so instead of self-joining the whole corpus's band
    * rows and filtering (O(Σ bucket²) join output — the full pair op's
    * cost paid for a 10% answer), probe the batch's bands against the
    * corpus's: O(Σ batch_bucket · bucket). The batch side is broadcast —
    * an ingest batch is small relative to the corpus BY CONTRACT (the
    * same assumption the LSH probe's localCheckpoint encodes), so the
    * band join never shuffles the corpus and never serializes the giant
    * near-dup bucket through one sort-merge task. Each incident pair
    * surfaces exactly once under the a < b convention: batch×all covers
    * pairs whose smaller id is a batch doc (including batch-batch);
    * base×batch covers the rest (the left leg excludes batch docs, so
    * nothing double-emits). Same first-collision dedup + exact Hamming
    * verify as the full op — the result IS the full op's output
    * restricted to batch-incident pairs, which CcAppendSpec asserts.
    */
  private[graft] def simhashHammingPairsIncident(baseSh: DataFrame,
      batchSh: DataFrame): DataFrame = {
    val batchBands = shBands(batchSh)
    val baseBands = shBands(baseSh)
    val allBands = batchBands.unionByName(baseBands)
    val cand = shSide(broadcast(batchBands), "a")
      .join(shSide(allBands, "b"), Seq("band_idx", "bval"))
      .filter(col("a_doc_id") < col("b_doc_id"))
      .unionByName(shSide(baseBands, "a")
        .join(shSide(broadcast(batchBands), "b"), Seq("band_idx", "bval"))
        .filter(col("a_doc_id") < col("b_doc_id")))
    shVerify(cand, 8)
  }

  private val simhashHamming = Op(
    "dedup_simhash_hamming",
    (s, sf) => simhashHammingPairs(s, sf).orderBy("a_doc_id", "b_doc_id"),
    Some("""WITH sh AS (SELECT doc_id, list_reduce(list_transform(generate_series(0, 59), j -> CASE WHEN list_reduce(list_transform(hs, h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END), (a, b) -> a + b) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END), (a, b) -> a | b) AS simhash FROM (SELECT doc_id, list_transform(string_split(lower(text), ' '), w -> CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)) AS hs FROM documents) t), bands(i, o, l) AS (SELECT * FROM (VALUES (0,0,7),(1,7,7),(2,14,7),(3,21,7),(4,28,7),(5,35,7),(6,42,6),(7,48,6),(8,54,6)) AS v(i,o,l)), bv AS (SELECT doc_id, simhash, i, (simhash >> o) & ((CAST(1 AS BIGINT) << l) - 1) AS bval FROM sh CROSS JOIN bands), cand AS (SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, a.simhash AS a_sh, b.simhash AS b_sh FROM bv a JOIN bv b ON a.i = b.i AND a.bval = b.bval AND a.doc_id < b.doc_id) SELECT a_doc_id, b_doc_id, CAST(bit_count(xor(a_sh, b_sh)) AS INT) AS hamming FROM cand WHERE bit_count(xor(a_sh, b_sh)) <= 8 ORDER BY a_doc_id, b_doc_id"""),
  )

  /** Near-dup pairs by 3-gram shingle Jaccard ≥ 0.5 — the discriminating
    * variant of sim_jaccard_pairs: the shingle space is |V|³-sparse, so
    * candidate pairs come from a shingle-inverted-index equi-join (only
    * docs sharing a shingle ever meet — sum(df²) stays near-linear),
    * which is exactly how shingle near-dup scales to 100 TB.
    */
  private val ngramJaccard = Op(
    "dedup_ngram_jaccard",
    (s, sf) => {
      val sh = Tables.spread(s, Tables.documents(s, sf))
        .withColumn("toks", split(lower(col("text")), " "))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          explode(array_distinct(
            expr("transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3)))"))).as("s"))
      val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = sh.select(col("doc_id").as("a_doc_id"), col("s"))
        .join(sh.select(col("doc_id").as("b_doc_id"), col("s")), "s")
        .filter(col("a_doc_id") < col("b_doc_id"))
        .groupBy(col("a_doc_id"), col("b_doc_id"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(n.select(col("doc_id").as("a_doc_id"), col("n").as("a_n")), "a_doc_id")
        .join(n.select(col("doc_id").as("b_doc_id"), col("n").as("b_n")), "b_doc_id")
        .withColumn("jaccard", r6(col("i").cast("double") / (col("a_n") + col("b_n") - col("i"))))
        .filter(col("i").cast("double") / (col("a_n") + col("b_n") - col("i")) >= 0.5)
        .select(col("a_doc_id"), col("b_doc_id"), col("jaccard"))
        .orderBy("a_doc_id", "b_doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents), sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(ts) - 2), i -> array_to_string(ts[i:i+2], ' '))) AS s FROM tok WHERE len(ts) >= 3), n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), inter AS (SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, count(*) AS i FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT a_doc_id, b_doc_id, ROUND(1e-9 + CAST(i AS DOUBLE) / (na.n + nb.n - i), 6) AS jaccard FROM inter JOIN n na ON na.doc_id = a_doc_id JOIN n nb ON nb.doc_id = b_doc_id WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.5 ORDER BY a_doc_id, b_doc_id"""),
  )

  /** Blocked EDIT-DISTANCE fuzzy matching (r6) — the string-similarity
    * entity-resolution shape (cobradb's synonym matching:
    * component_loading.py resolves gene names against GenBank synonyms;
    * here: near-identical part names within a brand family). Candidates
    * are BLOCKED on (brand, |len(a)−len(b)| ≤ 3): the length filter is
    * a lossless lower bound on edit distance (each edit changes length
    * by ≤ 1) and the brand key is the deliberate blocking decision —
    * within-family resolution, the standard ER trade documented since
    * Fellegi-Sunter. The codegen'd levenshtein verify runs only inside
    * blocks: Σ block² work, never all pairs.
    */
  private val editdistBrandPairs = Op(
    "sim_editdist_brand_pairs",
    (s, sf) => {
      // MEMOIZED verify: part names draw from a small pool (~1k distinct
      // names over 20k parts at sf0.1), so levenshtein runs once per
      // ordered DISTINCT-NAME pair (with the Δlen prefilter), and the
      // qualifying name-pair table — output-sized, broadcastable —
      // expands back to part pairs through two equi-joins on (name) and
      // (brand, name). 8M per-part-pair levenshtein evals collapse to
      // ~1M per-name-pair evals; the expansion streams only matches.
      val p = Tables.part(s, sf)
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
      val dn = p.select(col("p_name")).distinct()
      val qn = dn.select(col("p_name").as("a_name"))
        .join(dn.select(col("p_name").as("b_name")),
          abs(length(col("a_name")) - length(col("b_name"))) <= 3)
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
        .filter(col("dist") <= 3)
      val a = p.select(col("p_brand"), col("p_partkey").as("a_partkey"), col("p_name").as("a_name"))
      val b = p.select(col("p_brand"), col("p_partkey").as("b_partkey"), col("p_name").as("b_name"))
      a.join(broadcast(qn), Seq("a_name"))
        .join(b, Seq("p_brand", "b_name"))
        .filter(col("a_partkey") < col("b_partkey"))
        .select(col("p_brand"), col("a_partkey"), col("b_partkey"),
          col("a_name"), col("b_name"), col("dist"))
        .orderBy("p_brand", "a_partkey", "b_partkey")
    },
    Some("""SELECT a.p_brand AS p_brand, a.p_partkey AS a_partkey, b.p_partkey AS b_partkey, a.p_name AS a_name, b.p_name AS b_name, CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey AND abs(length(a.p_name) - length(b.p_name)) <= 3 WHERE levenshtein(a.p_name, b.p_name) <= 3 ORDER BY a.p_brand, a_partkey, b_partkey"""),
  )

  /** Exact substring-level dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): find VERBATIM spans
    * shared across distinct documents and report, per document, how much
    * of its text is covered by cross-document duplicated windows. The
    * suffix-array formulation of the paper is replaced by the
    * Spark-native equivalent — fixed-width rolling windows (W=40 chars,
    * stride 8), md5 per window, an inverted index on the window hash
    * (group-by, never a doc-pair loop), and a per-doc interval-union
    * sweep (running-max window function) for exact covered-char counts.
    * Work is linear in corpus size + Σ df per shared hash; there is no
    * pairwise stage at all, which is what makes this the 100 TB-scale
    * member of the dedup family. The window relation is recomputed per
    * consumer (3 narrow scan+explode passes) rather than persisted: at
    * fixture scale the scans are trivial, and at production scale the
    * window relation would be a materialized artifact shared by runs.
    */
  private val SubW = 40
  private val SubStride = 8
  private val substringExact = Op(
    "dedup_substring_exact",
    (s, sf) => {
      def windows = Tables.spread(s,
          Tables.documents(s, sf).filter(length(col("text")) >= SubW))
        .select(col("doc_id"),
          explode(expr(s"sequence(1, length(text) - ${SubW - 1}, $SubStride)")).as("pos"),
          col("text"))
        .select(col("doc_id"), col("pos"),
          md5(expr(s"substring(text, pos, $SubW)")).as("h"))
      // Hashes seen in >= 2 distinct docs: two-level group-by, exact.
      val dup = windows.select("h", "doc_id").distinct()
        .groupBy("h").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select("h")
      val wcov = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Long.MinValue, -1)
      // Interval-union sweep: each duplicated window contributes only the
      // chars past the running max end of all earlier windows in the doc.
      val cov = windows.join(dup, "h")
        .withColumn("prev_end", coalesce(max(col("pos") + lit(SubW)).over(wcov), lit(0)))
        .withColumn("add_cov",
          greatest(lit(0), col("pos") + lit(SubW) - greatest(col("prev_end"), col("pos"))))
      val perdoc = cov.groupBy("doc_id").agg(
        count(lit(1)).as("n_dup_windows"),
        sum(col("add_cov")).cast("long").as("dup_chars"))
      val nwin = windows.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      Tables.documents(s, sf)
        .join(nwin, Seq("doc_id"), "left_outer")
        .join(perdoc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
          // greatest(n_chars, 1): an empty doc has dup_chars = 0, and
          // 0/0 is NULL in Spark but NaN in DuckDB — the guard makes the
          // ratio 0 on both engines (the mm_chunk_dedup empty-doc fix).
          r6(coalesce(col("dup_chars"), lit(0L)).cast("double") /
            greatest(col("n_chars"), lit(1L))).as("dup_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH win AS (SELECT doc_id, p AS pos, md5(substr(text, p, 40)) AS h FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - 39, 8)) AS p) g WHERE length(text) >= 40), dup AS (SELECT h FROM (SELECT h, doc_id FROM win GROUP BY h, doc_id) t GROUP BY h HAVING count(*) >= 2), cov AS (SELECT doc_id, pos, GREATEST(0, pos + 40 - GREATEST(COALESCE(MAX(pos + 40) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), pos)) AS add_cov FROM win JOIN dup USING (h)), perdoc AS (SELECT doc_id, COUNT(*) AS n_dup_windows, CAST(SUM(add_cov) AS BIGINT) AS dup_chars FROM cov GROUP BY doc_id), nwin AS (SELECT doc_id, COUNT(*) AS n_windows FROM win GROUP BY doc_id) SELECT d.doc_id AS doc_id, COALESCE(n.n_windows, 0) AS n_windows, COALESCE(p.n_dup_windows, 0) AS n_dup_windows, COALESCE(p.dup_chars, 0) AS dup_chars, ROUND(1e-9 + CAST(COALESCE(p.dup_chars, 0) AS DOUBLE) / GREATEST(d.n_chars, 1), 6) AS dup_frac FROM documents d LEFT JOIN nwin n USING (doc_id) LEFT JOIN perdoc p USING (doc_id) ORDER BY doc_id"""),
  )

  /** CCNet-style paragraph-level dedup (r10b, Wenzek 2020 §4.1): the
    * corpus-wide companion to [[substringExact]]'s window sweep. Docs
    * split into non-overlapping 20-word "paragraphs"; each paragraph is
    * md5'd and the FIRST occurrence in (doc_id, idx) corpus order wins —
    * every later copy anywhere in the corpus is dropped. Emits the
    * per-doc retention decision table (paragraph count, kept count,
    * retained fraction) the curation pipeline consumes. Scale shape:
    * the explode carries (hash, doc_id, idx) — 16 bytes + key, never
    * paragraph text — and the first-occurrence window hash-partitions
    * on the paragraph hash, so the shuffle is uniform by construction
    * (hashes don't skew) and work is linear in total paragraphs.
    */
  private val paragraphDedup = Op(
    "dedup_paragraph",
    (s, sf) => {
      val pars = Tables.documents(s, sf)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(col("doc_id"),
          explode(sequence(lit(0),
            ((size(col("words")) - 1) / 20).cast("int"))).as("idx"),
          col("words"))
        .select(col("doc_id"), col("idx"),
          md5(array_join(slice(col("words"), col("idx") * 20 + 1, lit(20)), " ")).as("h"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("h").orderBy("doc_id", "idx")
      pars.withColumn("kept", row_number().over(w) === 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_par"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("retained_frac",
          r6(col("n_kept").cast("double") / col("n_par")))
        .orderBy("doc_id")
    },
    Some("""WITH pars AS (SELECT doc_id, idx, md5(array_to_string(words[idx * 20 + 1 : idx * 20 + 20], ' ')) AS h FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) d, LATERAL (SELECT unnest(generate_series(0, CAST((len(words) - 1) // 20 AS INT))) AS idx) g), marked AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1 AS kept FROM pars) SELECT doc_id, COUNT(*) AS n_par, CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, ROUND(1e-9 + CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS retained_frac FROM marked GROUP BY doc_id ORDER BY doc_id"""),
  )

  /** Bloom-prefiltered incremental dedup (r10d): the INCREMENTAL-LOAD
    * face of [[paragraphDedup]] — a new batch (odd doc_ids) checks its
    * paragraphs against the already-loaded corpus (even doc_ids)
    * through Spark's native `bloom_filter_agg`/`might_contain` pair
    * before any join: the corpus collapses to a ~KB bitset that ships
    * like a literal, the probe is a codegen'd stateless filter, and
    * only the ~1% bloom survivors reach the exact verify join. False
    * positives die in the verify; false negatives are impossible — so
    * the RESULT is bit-identical to the plain equi-join the oracle
    * runs, and the bloom is pure plan-side economics (at 100 TB the
    * incoming batch never shuffles non-colliding paragraphs at all).
    */
  private val bloomPrefilter = Op(
    "dedup_bloom_prefilter",
    (s, sf) => {
      graft.functions.BloomFuncs.register(s)
      def pars(parity: Int) = Tables.documents(s, sf)
        .filter(pmod(col("doc_id"), lit(2)) === parity)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(col("doc_id"),
          explode(sequence(lit(0),
            ((size(col("words")) - 1) / 20).cast("int"))).as("idx"),
          col("words"))
        .select(col("doc_id"), col("idx"),
          md5(array_join(slice(col("words"), col("idx") * 20 + 1, lit(20)), " ")).as("h"))
      pars(0).createOrReplaceTempView("graft_bloom_base")
      pars(1).createOrReplaceTempView("graft_bloom_incoming")
      // might_contain's analysis contract: the bloom argument must be a
      // scalar subquery (or constant) — it plans as a ReusedSubquery
      // broadcast, exactly like the optimizer's own runtime filters.
      s.sql("""
        SELECT i.doc_id, i.idx, b.dup_of
        FROM (SELECT doc_id, idx, h FROM graft_bloom_incoming
              WHERE graft_might_contain(
                (SELECT graft_bloom_agg(xxhash64(h)) FROM graft_bloom_base),
                xxhash64(h))) i
        JOIN (SELECT h, MIN(doc_id) AS dup_of
              FROM graft_bloom_base GROUP BY h) b ON b.h = i.h
        ORDER BY i.doc_id, i.idx
      """)
    },
    Some("""WITH pars AS (SELECT doc_id, idx, md5(array_to_string(words[idx * 20 + 1 : idx * 20 + 20], ' ')) AS h FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) d, LATERAL (SELECT unnest(generate_series(0, CAST((len(words) - 1) // 20 AS INT))) AS idx) g), base AS (SELECT h, MIN(doc_id) AS dup_of FROM pars WHERE doc_id % 2 = 0 GROUP BY h), inc AS (SELECT doc_id, idx, h FROM pars WHERE doc_id % 2 = 1) SELECT inc.doc_id, inc.idx, base.dup_of FROM inc JOIN base ON base.h = inc.h ORDER BY doc_id, idx"""),
  )

  // ---------------------------------------------------------------------
  // Text-LSH index persistence: the build-once/serve-many lifecycle for
  // corpus dedup, mirroring vec_pq_index_reload's discipline for
  // vectors. The BASE corpus (doc_id % 2 == 0 — the already-ingested
  // half) is signed once and its (doc_id, band_idx, band-key) relation,
  // token bitmasks, and the
  // word→bit dictionary are persisted as fingerprint-keyed parquet; an
  // INCREMENTAL batch (doc_id % 2 == 1 — the incoming half) then computes
  // only ITS OWN signatures and probes the RELOADED index — zero
  // recomputation over the base corpus, the production shape where the
  // index is petabyte-scale and rebuilt never, served always.
  // ---------------------------------------------------------------------

  /** Counts index BUILDS (not probes) — LshIndexSpec's witness that a
    * session serving from existing files performs zero signature passes
    * over the base corpus (the [[graft.ops.Vectors.pqTrainCounter]]
    * pattern).
    */
  private[graft] val lshBuildCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Fingerprint-keyed on-disk home of the base-corpus LSH index: a
    * regenerated documents table invalidates the artifacts (the
    * [[Tables.artifactDir]] contract — superseded generations vacuumed),
    * so a stale index can never serve a new corpus.
    */
  private[graft] def lshIndexDir(s: SparkSession, sf: String): String =
    Tables.artifactDir("graft_lsh_index", sf, "documents")

  /** The index relations computed FRESH (no persistence) — the build
    * path, and LshIndexSpec's reload ≡ recompute reference. Band keys are
    * the PORTABLE md5 form (md5 over the 4 concatenated band sigs, the
    * dedup_minhash_lsh ORACLE's own formulation) rather than xxhash64,
    * so the whole reload-and-probe pipeline stays under the DuckDB gate.
    * Masks are ALWAYS array<long> (never the width-1 scalar shortcut):
    * the persisted schema must not depend on the vocabulary size.
    */
  /** The index family's MinHash-LSH signature scheme — ONE definition
    * (r13 ADVICE: lshProbe used to hardcode its own B = 4 beside
    * bandKeys' independently-derived K/R; a scheme change in one would
    * have silently de-synced the probe's band loop). 16 signature rows
    * banded 4×4, the dedup_minhash_lsh oracle's own shape.
    */
  private[graft] val LshIndexK = 16
  private[graft] val LshIndexR = 4
  private[graft] val LshIndexB = LshIndexK / LshIndexR

  /** The 16-sig / 4-band md5 band-key relation of a (doc_id, word)
    * token relation — shared by the base build, the probe's batch side,
    * and the r13 ingest append (one signature definition, three
    * consumers; the md5 form is the oracle-portable one).
    */
  private def bandKeys(tok: DataFrame): DataFrame = {
    val K = LshIndexK; val R = LshIndexR; val B = LshIndexB
    // Same SortAggregate-vs-custom-HashAggregate A/B and revert as
    // minhashSigs (r16): flat, builtin min kept.
    val sigCols = (0 until K).map(i =>
      min(md5(concat(lit(s"$i|"), col("word")))).as(s"s$i"))
    tok.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until B).map(b =>
          md5(concat_ws("|", (0 until R).map(r => col(s"s${b * R + r}")): _*))): _*))
          .as(Seq("band_idx", "bkey")))
  }

  /** Deterministic word→bit numbering of `words`' distinct words, in
    * word order, starting at `offset`. offset > 0 extends a base
    * dictionary append-only.
    */
  private def numberWords(words: DataFrame, offset: Long): DataFrame =
    Tables.numbered(words.select("word").distinct(), "bit", offset, col("word"))

  private[graft] def lshIndexFresh(s: SparkSession, sf: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val baseTok = docTokens(s, sf).filter(pmod(col("doc_id"), lit(2)) === 0)
    val bands = bandKeys(baseTok)
    // word→bit dictionary over the BASE vocabulary.
    val vocab = numberWords(baseTok, 0L)
    (bands, lshMasks(baseTok, vocab), vocab)
  }

  /** Pack a (doc_id, word) token relation into vocab-indexed array<long>
    * bitmasks + the doc's distinct-token count. Tokens absent from the
    * dictionary (batch-side OOV words — impossible on the base side by
    * construction) set no bit but still count in `n`: an OOV token can
    * never be shared with an indexed doc, so the popcount intersection
    * stays exact and the union is n_a + n_b − i with the FULL counts.
    */
  private def lshMasks(tok: DataFrame, vocab: DataFrame): DataFrame = {
    val withBits = tok.join(vocab, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("bit")).as("bits"), count(lit(1)).as("n"))
    // Width from the dictionary itself, recomputed identically at build
    // and probe time (the vocab relation is persisted, so the count is
    // stable across sessions).
    withBits.crossJoin(vocab.agg(ceil(count(lit(1)) / 64.0).cast("int").as("mask_words")))
      .select(col("doc_id"),
        expr("aggregate(bits, array_repeat(0L, greatest(mask_words, 1)), (acc, b) -> transform(acc, (x, j) -> if(j = cast(b div 64 as int), x | shiftleft(1L, cast(b % 64 as int)), x)))").as("mask"),
        col("n"))
  }

  /** PERSIST-or-RELOAD the base-corpus LSH index: written on first
    * demand, every subsequent call — including a cold session that never
    * signed the base corpus — answers from the files alone. md5 strings
    * and longs round-trip parquet exactly and the signature pass is
    * deterministic (min over md5 strings), so reload ≡ rebuild
    * row-for-row (LshIndexSpec).
    */
  private[graft] def lshPersistedIndex(s: SparkSession, sf: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dir = lshBase(s, sf, lshIndexDir(s, sf))
    (Tables.parquet(s, s"$dir/bands"),
      Tables.parquet(s, s"$dir/masks"),
      Tables.parquet(s, s"$dir/vocab"))
  }

  /** Write the base-corpus index under `dir` once, each part by its own
    * staged rename. The signature pass is deterministic, so parts
    * committed by different attempts compose; it runs (and counts as a
    * build) only when a part is missing.
    */
  private def lshBase(s: SparkSession, sf: String, dir: String): String = {
    lazy val (bands, masks, vocab) = {
      lshBuildCounter.incrementAndGet()
      lshIndexFresh(s, sf)
    }
    // SERVE LAYOUT: bands are partitioned by band_idx on disk, so a
    // band job (schedule, rebuild, re-shard at 100 TB) addresses one
    // directory without touching the other B−1.
    Tables.commitStaged(dir, "bands")(bands.write.partitionBy("band_idx").parquet(_))
    Tables.commitStaged(dir, "masks")(masks.write.parquet(_))
    Tables.commitStaged(dir, "vocab")(vocab.write.parquet(_))
    dir
  }

  /** Probe an incremental batch against index relations (reloaded or
    * fresh — LshIndexSpec runs both and diffs). The batch side computes
    * its own 16 MinHash rows and 4 band keys, candidates come from the
    * (band_idx, bkey) equi-join against the index — Σ bucket² work, the
    * same curve as dedup_minhash_lsh — and the exact popcount Jaccard
    * ≥ 0.9 verify runs on candidates only.
    *
    * With `dedupCandidates = false` the result is a MULTISET: a pair that
    * collides in m bands is verified and returned m times. Only a caller
    * that dedups downstream may pass it (the label contraction of the
    * cc-append merge); a caller that counts or collects pairs must keep
    * the default.
    */
  private[graft] def lshProbe(s: SparkSession, sf: String,
      index: (DataFrame, DataFrame, DataFrame),
      excludeSelf: Boolean = false,
      batchMod: Int = 2, batchRem: Int = 1,
      dedupCandidates: Boolean = true): DataFrame = {
    val (idxBands, idxMasks, vocab) = index
    // batchMod/batchRem select the incremental batch (default: the odd
    // half, the index keys' oracled contract; the r14 cc-append lineage
    // probes a 10% daily slice instead — any residue class works, the
    // signature pass is batch-only either way).
    val batchTok = docTokens(s, sf)
      .filter(pmod(col("doc_id"), lit(batchMod)) === batchRem)
    // The fused candidate join below reads ALL band directories in one
    // scan (a probe touches every band, so per-band pruning never
    // skipped a byte; the on-disk band_idx partitioning still serves
    // compaction and band-level rebuilds, which DO address one
    // directory). The batch side is localCheckpoint'd ONCE PER (session, sf,
    // fixture, batch) — it is the bounded incremental increment (B rows per
    // batch doc, never the corpus) and the per-band filters must not
    // recompute the signature pass; the fingerprint-keyed memo (kind
    // "lsh_batch", dropped by `ResultPins.forget`) keeps repeat
    // invocations from stacking fresh checkpoint blocks in the block
    // manager.
    val batchB = ResultPins.memo(s, sf, "lsh_batch",
        Tables.fingerprint(sf, "documents"), s"$batchMod:$batchRem") {
      bandKeys(batchTok).localCheckpoint()
    }
    // ONE fused candidate join on the compound (band_idx, bkey) key
    // (r15): the former per-band loop union'd B separate joins, each
    // re-scanning the checkpointed batch side and BUILDING ITS OWN
    // BroadcastExchange over the index side (×3 generation roots on the
    // append lineages — 12 index scans and 4 broadcasts per probe,
    // measured). An equi-join on (band_idx, bkey) is the same multiset
    // of candidate rows — band_idx equality IS the per-band
    // partitioning — with exactly one scan per side and one join. The
    // on-disk band_idx partitioning is untouched (compaction and
    // band-level rebuilds still address one directory); nothing is lost
    // locally either: a probe touches every band, so per-band
    // PartitionFilters never pruned a byte.
    val candRaw = batchB
      .select(col("doc_id").as("batch_doc_id"), col("band_idx"), col("bkey"))
      .join(idxBands.select(col("doc_id").as("base_doc_id"), col("band_idx"), col("bkey")),
        Seq("band_idx", "bkey"))
      .select("batch_doc_id", "base_doc_id")
    // excludeSelf: against the r13 APPEND-maintained index the batch's
    // own docs are index members — a probe must not report a doc as its
    // own duplicate.
    // dedupCandidates=false (r16): callers that feed LABEL CONTRACTION
    // (the cc-append merge) skip the candidate distinct — a pair
    // colliding in m bands is verified m times (cheap codegen'd
    // popcounts) instead of paying a corpus-candidate-sized exchange,
    // and the contraction's own distinct dedups at label granularity
    // (~10³ rows, not ~600k). Keyed probe OUTPUTS keep the distinct:
    // their verified pair list is the oracle contract.
    val exSelf = if (excludeSelf) candRaw.filter(col("batch_doc_id") =!= col("base_doc_id"))
                 else candRaw
    val cand = if (dedupCandidates) exSelf.distinct() else exSelf
    val bm = lshMasks(batchTok, vocab)
      .select(col("doc_id").as("batch_doc_id"), col("mask").as("a_mask"), col("n").as("a_n"))
    val im = idxMasks
      .select(col("doc_id").as("base_doc_id"), col("mask").as("b_mask"), col("n").as("b_n"))
    // coalesce: mask widths can differ across index GENERATIONS (the
    // r13 append extends the dictionary, so later masks may be wider);
    // zip_with pads the shorter array with nulls, and a null word holds
    // no bits.
    cand.join(bm, "batch_doc_id").join(im, "base_doc_id")
      .withColumn("i",
        { graft.functions.MaskIntersect.register(s)
          // mask_intersect stops at the shorter mask's length — the
          // codegen'd dual of the zip_with null-pad + coalesce (r15).
          expr("mask_intersect(a_mask, b_mask)") })
      .filter(col("i").cast("double") / (col("a_n") + col("b_n") - col("i")) >= 0.9)
      .select(col("batch_doc_id"), col("base_doc_id"),
        r6(col("i").cast("double") / (col("a_n") + col("b_n") - col("i"))).as("jaccard"))
  }

  /** The keyed op: reload (or first-build) the persisted base index,
    * probe the incremental batch, emit verified near-dup links — the
    * daily-ingest dedup job. ORACLED end-to-end: the md5 band keys make
    * the candidate set engine-portable, and the verify is the exact
    * set-Jaccard DuckDB computes from the raw text.
    */
  /** Fingerprint-keyed home of the APPEND-maintained index — a
    * SEPARATE lineage from [[lshIndexDir]]'s build-once index: this one
    * is mutated by ingest appends, so the reload key's artifacts stay
    * pristine.
    */
  private[graft] def lshAppendDir(s: SparkSession, sf: String): String =
    // _v2: the kind carries the LAYOUT version (multi-generation dirs) —
    // a layout change must bump it so stale artifacts from an older
    // build can never half-serve the new read path (the fingerprint in
    // the dir NAME only invalidates on data changes, not code-layout
    // changes).
    Tables.artifactDir("graft_lsh_index_app_v2", sf, "documents")

  /** INCREMENTAL INDEX MAINTENANCE — the third act of the
    * build-once / serve-many lifecycle: a daily-ingest batch (the odd
    * parity) is APPENDED into the persisted index instead of
    * triggering a rebuild. Maintenance cost is O(batch), never
    * O(index):
    *  - the batch's band rows land as a NEW GENERATION directory
    *    (gen1/bands, band_idx-partitioned like the base; every base
    *    file survives byte-for-byte — LshIndexSpec asserts the original
    *    file set is untouched — and the serve path unions the two
    *    generation roots, band-pruned on each);
    *  - the word→bit dictionary EXTENDS append-only (new words numbered
    *    after the base count by the same deterministic
    *    [[Tables.numbered]]), so every base mask
    *    stays valid bit-for-bit while batch-only words still get bits —
    *    without this, two ingest docs sharing an out-of-base-vocab word
    *    would undercount their intersection (the base-era "OOV is never
    *    shared" invariant stops holding the moment ingested docs become
    *    index members);
    *  - batch masks are built against the extended dictionary and may
    *    be WIDER than base-generation masks (width = ceil(|vocab|/64)
    *    at write time); the probe popcount coalesces the zip_with tail.
    * Idempotent via the committed gen1 directory itself (the
    * [[Tables.commitStaged]] protocol): re-invocations serve the
    * appended artifacts without re-ingesting, and an interrupted ingest
    * leaves the live index bit-identical to generation 0.
    */
  /** Generation 0 of the append-maintained index: the base
    * (even-parity) build in the reload-key layout, written once.
    * Returns the index dir (the seam LshIndexSpec uses to snapshot the
    * base file set before an append).
    */
  private[graft] def lshAppendBase(s: SparkSession, sf: String): String =
    lshBase(s, sf, lshAppendDir(s, sf))

  private[graft] def lshAppendedIndex(s: SparkSession, sf: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dir = lshAppendBase(s, sf)
    // Each ingest generation stages whole and goes live by ONE atomic
    // rename, and the base dirs are never written after generation 0:
    // a crash leaves only a staging orphan, and a retry restages from
    // scratch instead of appending again (duplicate band rows would
    // inflate candidates, duplicate vocab rows double-assign bits;
    // LshIndexSpec's kill-between-write-and-commit test). The odd half
    // arrives as TWO daily batches (gen g ingests doc_id % 4 == 2g − 1),
    // each committed by its own rename — so the dictionary extension
    // COMPOSES:
    // gen2's new words number after base + gen1, and a near-dup pair
    // spanning generations (a gen2 doc sharing gen1-vocabulary words)
    // still popcounts exactly (LshIndexSpec's cross-generation OOV
    // pair). Membership converges to the same all-odd batch either
    // way, so the keyed op's oracle is unchanged.
    for (g <- 1 to LshIngestGens)
      Tables.commitStaged(dir, s"gen$g") { tmp =>
        stageLshIngest(s, sf, tmp, g, lshVocabThrough(s, dir, g - 1))
      }
    (lshAppendedPart(s, dir, "bands"),
      lshAppendedPart(s, dir, "masks"),
      lshAppendedPart(s, dir, "vocab"))
  }

  /** The parts of an LSH index base, and of each of its generations. */
  private[graft] val LshParts = Seq("bands", "masks", "vocab")

  /** Stage daily-ingest generation `g` (doc_id % 4 == 2g − 1) under
    * `tmp`: append-only dictionary extension against `priorVocab` (new
    * words number after the prior bit count, so every earlier mask
    * stays valid bit-for-bit), band keys, and masks built against the
    * extended dictionary. Shared by the pinned two-generation lineage
    * ([[lshAppendedIndex]]) and the policy-maintained one
    * ([[lshAutoMaintainedIndex]]).
    */
  private[graft] def stageLshIngest(s: SparkSession, sf: String, tmp: String,
      g: Int, priorVocab: DataFrame): Unit = {
    val batchTok = docTokens(s, sf)
      .filter(pmod(col("doc_id"), lit(4)) === (2 * g - 1))
    val baseBits = priorVocab.count() // bounded: one scalar, the dictionary size
    numberWords(
      batchTok.join(priorVocab.select("word"), Seq("word"), "left_anti"),
      baseBits)
      .write.mode("overwrite").parquet(s"$tmp/vocab")
    val vocabAll = priorVocab.unionByName(Tables.parquet(s, s"$tmp/vocab"))
    bandKeys(batchTok).write.mode("overwrite").partitionBy("band_idx").parquet(s"$tmp/bands")
    lshMasks(batchTok, vocabAll).write.mode("overwrite").parquet(s"$tmp/masks")
  }

  /** Number of daily ingest generations the append lineage commits. */
  private[graft] val LshIngestGens = 2

  /** The word→bit dictionary through generation `g` (0 = base only). */
  private def lshVocabThrough(s: SparkSession, dir: String, g: Int): DataFrame =
    Tables.generationPart(s, Tables.generationRoots(dir, through = g), "vocab")

  /** One relation of the append-maintained index: generation 0 ∪ every
    * committed ingest generation.
    */
  private[graft] def lshAppendedPart(s: SparkSession, dir: String, part: String): DataFrame =
    Tables.generationPart(s, Tables.generationRoots(dir), part)

  /** Execute a probe-serving keyed op's dataflow under the small-data
    * conf scope and pin its (batch-bounded) result — the graph-kernel
    * discipline (copurchaseTriangles) applied to the index-probe family
    * (r15). Rationale, measured on the append key's plan: the probe
    * moves only batch-bounded relations (band keys, candidate pairs,
    * masks — never the corpus), yet at the session's core-count fan-out
    * every one of its ~6 exchanges ran 32 tasks of ~nothing and AQE
    * materialized each as its own job — the job floor WAS the cost
    * (the wedge-family finding). 8 partitions size the shuffles to the
    * data; at real scale this constant is sized to the DAILY BATCH
    * (the only thing these shuffles ever carry), not the corpus — the
    * index side streams through the candidate join unshuffled either
    * way. The pin (ResultPins.swap) materializes inside the scope so
    * the confs are honored at execution, and swaps out the previous
    * invocation's blocks (flat block manager across a sweep).
    */
  private def probeScoped(s: SparkSession, key: String, sf: String)
      (body: => DataFrame): DataFrame =
    Tables.scopedPin(s, s"$key@$sf")(body)

  /** The keyed op: append the ingest batch into the persisted index,
    * then probe that SAME batch against the appended index — each
    * ingest doc's near-dups among EVERYTHING indexed so far, base and
    * already-ingested peers alike (self excluded). This is the shape a
    * rolling dedup pipeline actually runs: ingest, then ask "what did
    * today's batch duplicate". ORACLED end-to-end like the reload key
    * (portable md5 band keys; candidates = band-key collisions with the
    * batch side odd and self excluded, verify = exact set-Jaccard).
    */
  private val minhashIndexAppend = Op(
    "dedup_minhash_index_append",
    (s, sf) => {
      // Ingest commits run OUTSIDE the probe scope: staging a generation
      // is corpus-era build work (session-sized parallelism), only the
      // batch-bounded probe executes under the 8-partition scope.
      val idx = lshAppendedIndex(s, sf)
      probeScoped(s, "dedup_minhash_index_append", sf) {
        lshProbe(s, sf, idx, excludeSelf = true)
          .withColumnRenamed("base_doc_id", "other_doc_id")
      }.orderBy("batch_doc_id", "other_doc_id")
    },
    Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sig AS (SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || '|' || word)) AS sig FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) bands GROUP BY doc_id, band), bk AS (SELECT doc_id, band // 4 AS band_idx, md5(string_agg(sig, '|' ORDER BY band)) AS bkey FROM sig GROUP BY doc_id, band // 4), cand AS (SELECT DISTINCT a.doc_id AS batch_doc_id, b.doc_id AS other_doc_id FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.bkey = b.bkey WHERE a.doc_id % 2 = 1 AND b.doc_id <> a.doc_id), sets AS (SELECT doc_id, list(word ORDER BY word) AS ws, count(*) AS n FROM tok GROUP BY doc_id), v AS (SELECT c.batch_doc_id, c.other_doc_id, len(list_intersect(sa.ws, sb.ws)) AS i, sa.n + sb.n AS nn FROM cand c JOIN sets sa ON sa.doc_id = c.batch_doc_id JOIN sets sb ON sb.doc_id = c.other_doc_id) SELECT batch_doc_id, other_doc_id, ROUND(1e-9 + CAST(i AS DOUBLE) / (nn - i), 6) AS jaccard FROM v WHERE CAST(i AS DOUBLE) / (nn - i) >= 0.9 ORDER BY batch_doc_id, other_doc_id"""),
  )

  /** TOMBSTONE DELETES (r14) — the SIXTH lifecycle act: retiring
    * members from a persisted index whose data files are immutable.
    * Production deletions (takedowns, contamination retractions, user
    * erasure) cannot rewrite band files per request; the standard
    * design is a LOGICAL tombstone set — committed crash-safe like
    * every other generation ([[Tables.commitStaged]]) — consulted at
    * probe time and folded physically at the next compaction. The
    * fixture's retired set is doc_id % 7 == 0 (spans the base and both
    * ingest generations), read back from the committed parquet — the
    * op's dataflow treats it as an arbitrary id set, never a
    * predicate.
    */
  private[graft] def lshTombstoneSet(s: SparkSession, sf: String): DataFrame = {
    val dir = lshAppendBase(s, sf)
    Tables.commitStaged(dir, "tombstones") { tmp =>
      Tables.documents(s, sf).filter(pmod(col("doc_id"), lit(7)) === 0)
        .select("doc_id").write.mode("overwrite").parquet(s"$tmp/docs")
    }
    Tables.parquet(s, s"$dir/tombstones/docs")
  }

  /** The keyed op: the append key's rolling-dedup probe with the
    * tombstoned members RETIRED — the index side is anti-joined out
    * BEFORE the band joins and the mask verify (a retired doc costs no
    * candidate or popcount work), the batch side drops retired probes
    * from the result (batch-sized, so the late filter is bounded by the
    * day's ingest). ORACLED end-to-end: the append oracle with the
    * retired set excluded on both endpoints.
    */
  private val minhashIndexDelete = Op(
    "dedup_minhash_index_delete",
    (s, sf) => {
      val ts = lshTombstoneSet(s, sf)
      val (bands, masks, vocab) = lshAppendedIndex(s, sf)
      val liveBands = bands.join(ts, Seq("doc_id"), "left_anti")
      val liveMasks = masks.join(ts, Seq("doc_id"), "left_anti")
      probeScoped(s, "dedup_minhash_index_delete", sf) {
        lshProbe(s, sf, (liveBands, liveMasks, vocab), excludeSelf = true)
          .join(ts.select(col("doc_id").as("batch_doc_id")),
            Seq("batch_doc_id"), "left_anti")
          .withColumnRenamed("base_doc_id", "other_doc_id")
      }.orderBy("batch_doc_id", "other_doc_id")
    },
    Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sig AS (SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || '|' || word)) AS sig FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) bands GROUP BY doc_id, band), bk AS (SELECT doc_id, band // 4 AS band_idx, md5(string_agg(sig, '|' ORDER BY band)) AS bkey FROM sig GROUP BY doc_id, band // 4), cand AS (SELECT DISTINCT a.doc_id AS batch_doc_id, b.doc_id AS other_doc_id FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.bkey = b.bkey WHERE a.doc_id % 2 = 1 AND a.doc_id % 7 <> 0 AND b.doc_id <> a.doc_id AND b.doc_id % 7 <> 0), sets AS (SELECT doc_id, list(word ORDER BY word) AS ws, count(*) AS n FROM tok GROUP BY doc_id), v AS (SELECT c.batch_doc_id, c.other_doc_id, len(list_intersect(sa.ws, sb.ws)) AS i, sa.n + sb.n AS nn FROM cand c JOIN sets sa ON sa.doc_id = c.batch_doc_id JOIN sets sb ON sb.doc_id = c.other_doc_id) SELECT batch_doc_id, other_doc_id, ROUND(1e-9 + CAST(i AS DOUBLE) / (nn - i), 6) AS jaccard FROM v WHERE CAST(i AS DOUBLE) / (nn - i) >= 0.9 ORDER BY batch_doc_id, other_doc_id"""),
  )

  /** INDEX COMPACTION (r14, the r13 verdict's item 2) — the FOURTH
    * lifecycle act (build → serve → append → compact): each ingest
    * generation adds small files per band_idx directory, and after ~365
    * daily appends a probe would read thousands of tiny files per
    * partition. Compaction rewrites the appended index into right-sized
    * files — ONE file per band_idx partition here (repartition on the
    * partition column routes each band wholly to one writer task; the
    * production knob is files-per-partition targeted at a byte size via
    * repartition(N, col) or maxRecordsPerFile) — and is CONTENT-NEUTRAL:
    * the probe's answer over the compacted index is row-identical to
    * the appended one (LshCompactSpec pins equality, the file-count
    * drop, and that compaction is itself crash-safe: staged whole,
    * committed by one atomic rename, generations it read left intact
    * for the vacuum step to retire).
    */
  private[graft] def lshCompactedIndex(s: SparkSession, sf: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dir = lshAppendDir(s, sf)
    // A committed compaction serves on its own: do NOT touch the
    // generation dirs once compact exists, or a vacuumed index (fifth
    // act, [[Tables.vacuumGenerations]]) would re-materialize the
    // generations it just retired.
    if (!new java.io.File(dir, "compact").exists()) {
      lshAppendedIndex(s, sf) // ensure gen1 is committed first
      Tables.commitStaged(dir, "compact") { tmp =>
        lshAppendedPart(s, dir, "bands").repartition(col("band_idx"))
          .write.partitionBy("band_idx").parquet(s"$tmp/bands")
        // Masks/vocab are unpartitioned; the fixture-right size is one
        // file (at scale: bytes-targeted file count, same knob as above).
        lshAppendedPart(s, dir, "masks").repartition(1).write.parquet(s"$tmp/masks")
        lshAppendedPart(s, dir, "vocab").repartition(1).write.parquet(s"$tmp/vocab")
      }
    }
    (Tables.parquet(s, s"$dir/compact/bands"),
      Tables.parquet(s, s"$dir/compact/masks"),
      Tables.parquet(s, s"$dir/compact/vocab"))
  }

  /** The keyed op: compact the append-aged index, then run the append
    * key's exact probe against the compacted artifacts — same answer
    * (content-neutral compaction), same DuckDB oracle, and the probe now
    * scans one right-sized file per band directory with single-root
    * partition pruning restored.
    */
  private val minhashIndexCompact = Op(
    "dedup_minhash_index_compact",
    (s, sf) => {
      val idx = lshCompactedIndex(s, sf) // compaction commit outside the probe scope
      probeScoped(s, "dedup_minhash_index_compact", sf) {
        lshProbe(s, sf, idx, excludeSelf = true)
          .withColumnRenamed("base_doc_id", "other_doc_id")
      }.orderBy("batch_doc_id", "other_doc_id")
    },
    Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sig AS (SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || '|' || word)) AS sig FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) bands GROUP BY doc_id, band), bk AS (SELECT doc_id, band // 4 AS band_idx, md5(string_agg(sig, '|' ORDER BY band)) AS bkey FROM sig GROUP BY doc_id, band // 4), cand AS (SELECT DISTINCT a.doc_id AS batch_doc_id, b.doc_id AS other_doc_id FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.bkey = b.bkey WHERE a.doc_id % 2 = 1 AND b.doc_id <> a.doc_id), sets AS (SELECT doc_id, list(word ORDER BY word) AS ws, count(*) AS n FROM tok GROUP BY doc_id), v AS (SELECT c.batch_doc_id, c.other_doc_id, len(list_intersect(sa.ws, sb.ws)) AS i, sa.n + sb.n AS nn FROM cand c JOIN sets sa ON sa.doc_id = c.batch_doc_id JOIN sets sb ON sb.doc_id = c.other_doc_id) SELECT batch_doc_id, other_doc_id, ROUND(1e-9 + CAST(i AS DOUBLE) / (nn - i), 6) AS jaccard FROM v WHERE CAST(i AS DOUBLE) / (nn - i) >= 0.9 ORDER BY batch_doc_id, other_doc_id"""),
  )

  /** POLICY-TRIGGERED COMPACTION (r15, the r14 verdict's item 5) — the
    * production maintenance shape: compaction as an operator the user
    * remembers to run (the r14 keyed op above) becomes compaction as a
    * POLICY the append path enforces. After each ingest generation
    * commits, the layout health check runs: once the number of live
    * (un-folded) generations reaches [[AutoCompactMaxGens]], the
    * current read set — previous fold (or the base build) ∪ live
    * generations — folds into a new `auto_compact_g<highwater>` root
    * and the folded inputs are vacuumed immediately (the fold is
    * committed first, crash-safe, so the rows always have a live home).
    * Folds are VERSIONED by the high-water generation they cover, which
    * makes the fold commit idempotent under [[Tables.commitStaged]] and
    * the read-set derivation pure directory listing: highest fold ∪
    * generations committed after it.
    *
    * File sizing is BYTES-TARGETED (the r14 `repartition(1)` fixture
    * shortcut generalized): records-per-file = targetBytes / measured
    * avg row bytes (from [[Tables.dirBytes]] over the fold's inputs),
    * enforced via maxRecordsPerFile — bands cluster per band_idx
    * partition first so each band directory gets ceil(bandBytes /
    * target) files, never one giant or thousands of tiny ones. At
    * 100 TB this is the whole point: the policy bounds file-count decay
    * without a human in the loop, and the target keeps every file in
    * the scanner's sweet spot.
    *
    * The base build at the dir root is SHARED with the pinned
    * reload/append lineages, so the first fold copies it rather than
    * vacuuming it; only `auto_*` dirs are ever deleted.
    */
  private[graft] val AutoCompactMaxGens = 2
  private[graft] val AutoCompactTargetBytes = 64L << 20 // 64 MB: parquet-scanner sweet spot

  /** The policy lineage's read set: the highest committed fold (or the
    * shared base build at the root), then the generations after it.
    */
  private def lshAutoRoots(dir: String): Seq[(Int, String)] =
    Tables.generationRoots(dir, gen = "auto_gen", fold = "auto_compact_g")

  private def lshAutoPart(s: SparkSession, dir: String, part: String): DataFrame =
    Tables.generationPart(s, lshAutoRoots(dir), part)

  /** The append-commit-time policy check. Returns true iff a fold
    * committed. Exposed with explicit policy knobs so the spec can
    * exercise the bytes-targeted splitting with a tiny target.
    */
  private[graft] def lshAutoMaybeCompact(s: SparkSession, dir: String,
      maxGens: Int, targetBytes: Long): Boolean = {
    val roots = lshAutoRoots(dir)
    if (roots.size - 1 < maxGens) false
    else {
      Tables.commitStaged(dir, s"auto_compact_g${roots.last._1}") { tmp =>
        LshParts.foreach { part =>
          val rel = Tables.generationPart(s, roots, part)
          val bytes = roots.map { case (_, r) => Tables.dirBytes(new java.io.File(s"$r/$part")) }.sum
          val rows = rel.count()
          val perFile = math.max(1L, targetBytes / math.max(1L, bytes / math.max(1L, rows)))
          val clustered =
            if (part == "bands") rel.repartition(col("band_idx")) else rel.repartition(1)
          val w = clustered.write.option("maxRecordsPerFile", perFile)
          (if (part == "bands") w.partitionBy("band_idx") else w).parquet(s"$tmp/$part")
        }
      }
      // Vacuum the folded inputs — AFTER the fold is live, and never
      // the shared base build at the dir root.
      roots.collect { case (_, r) if r != dir => Tables.rmTree(new java.io.File(r)) }
      true
    }
  }

  /** The policy-maintained index: same two daily ingest generations as
    * the pinned lineage, but committed as `auto_gen*` with the health
    * check after each commit — on this fixture gen2's commit trips the
    * policy and the read set becomes exactly one fold. Membership
    * converges to the same all-odd batch as the append key, so the
    * probe result is row-identical (the compaction-content-neutrality
    * contract, now enforced by the policy instead of the caller).
    */
  private[graft] def lshAutoMaintainedIndex(s: SparkSession, sf: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dir = lshAppendBase(s, sf)
    for (g <- 1 to LshIngestGens) {
      if (g > lshAutoRoots(dir).last._1) {
        Tables.commitStaged(dir, s"auto_gen$g") { tmp =>
          stageLshIngest(s, sf, tmp, g, lshAutoPart(s, dir, "vocab"))
        }
        lshAutoMaybeCompact(s, dir, AutoCompactMaxGens, AutoCompactTargetBytes): Unit
      }
    }
    (lshAutoPart(s, dir, "bands"),
      lshAutoPart(s, dir, "masks"),
      lshAutoPart(s, dir, "vocab"))
  }

  /** The keyed op: run the append key's rolling-dedup probe against the
    * policy-maintained index — same answer, same oracle; what changed
    * is WHO compacts (the append path's policy, not a caller).
    */
  private val minhashIndexAutoCompact = Op(
    "dedup_minhash_index_auto_compact",
    (s, sf) => {
      val idx = lshAutoMaintainedIndex(s, sf) // ingest+fold commits outside the probe scope
      probeScoped(s, "dedup_minhash_index_auto_compact", sf) {
        lshProbe(s, sf, idx, excludeSelf = true)
          .withColumnRenamed("base_doc_id", "other_doc_id")
      }.orderBy("batch_doc_id", "other_doc_id")
    },
    Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sig AS (SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || '|' || word)) AS sig FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) bands GROUP BY doc_id, band), bk AS (SELECT doc_id, band // 4 AS band_idx, md5(string_agg(sig, '|' ORDER BY band)) AS bkey FROM sig GROUP BY doc_id, band // 4), cand AS (SELECT DISTINCT a.doc_id AS batch_doc_id, b.doc_id AS other_doc_id FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.bkey = b.bkey WHERE a.doc_id % 2 = 1 AND b.doc_id <> a.doc_id), sets AS (SELECT doc_id, list(word ORDER BY word) AS ws, count(*) AS n FROM tok GROUP BY doc_id), v AS (SELECT c.batch_doc_id, c.other_doc_id, len(list_intersect(sa.ws, sb.ws)) AS i, sa.n + sb.n AS nn FROM cand c JOIN sets sa ON sa.doc_id = c.batch_doc_id JOIN sets sb ON sb.doc_id = c.other_doc_id) SELECT batch_doc_id, other_doc_id, ROUND(1e-9 + CAST(i AS DOUBLE) / (nn - i), 6) AS jaccard FROM v WHERE CAST(i AS DOUBLE) / (nn - i) >= 0.9 ORDER BY batch_doc_id, other_doc_id"""),
  )

  private val minhashIndexReload = Op(
    "dedup_minhash_index_reload",
    (s, sf) => {
      val idx = lshPersistedIndex(s, sf) // base build (first demand) outside the probe scope
      probeScoped(s, "dedup_minhash_index_reload", sf) {
        lshProbe(s, sf, idx)
      }.orderBy("batch_doc_id", "base_doc_id")
    },
    Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents), sig AS (SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || '|' || word)) AS sig FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band) bands GROUP BY doc_id, band), bk AS (SELECT doc_id, band // 4 AS band_idx, md5(string_agg(sig, '|' ORDER BY band)) AS bkey FROM sig GROUP BY doc_id, band // 4), cand AS (SELECT DISTINCT a.doc_id AS batch_doc_id, b.doc_id AS base_doc_id FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.bkey = b.bkey WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0), sets AS (SELECT doc_id, list(word ORDER BY word) AS ws, count(*) AS n FROM tok GROUP BY doc_id), v AS (SELECT c.batch_doc_id, c.base_doc_id, len(list_intersect(sa.ws, sb.ws)) AS i, sa.n + sb.n AS nn FROM cand c JOIN sets sa ON sa.doc_id = c.batch_doc_id JOIN sets sb ON sb.doc_id = c.base_doc_id) SELECT batch_doc_id, base_doc_id, ROUND(1e-9 + CAST(i AS DOUBLE) / (nn - i), 6) AS jaccard FROM v WHERE CAST(i AS DOUBLE) / (nn - i) >= 0.9 ORDER BY batch_doc_id, base_doc_id"""),
  )

  /** SHINGLE-set MinHash LSH (r11) — the ORDER-SENSITIVE member of the
    * near-dup family: the token-set ops (dedup_minhash_lsh,
    * sim_jaccard_pairs) are bag-of-words and score a word-order
    * scramble as a perfect duplicate; 3-word shingles (Broder's
    * original w-shingling) make locality part of the set, so only
    * documents sharing actual PHRASING collide. 12 MinHash rows → 4
    * bands of 3 → band-bucket candidates → exact shingle-Jaccard ≥ 0.8
    * verify via a hash-join on the shingle relation (no bitmasks — the
    * shingle universe is corpus-sized, so the verify joins candidates'
    * exploded shingles instead, Σ overlap work per candidate).
    */
  private val shingleMinhash = Op(
    "dedup_shingle_minhash",
    (s, sf) => {
      val K = 12; val R = 3; val B = K / R
      val sh = Tables.spread(s, Tables.documents(s, sf))
        .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(0, size(ws) - 3), j -> concat(element_at(ws, j + 1), ' ', element_at(ws, j + 2), ' ', element_at(ws, j + 3))))")).as("sh"))
      val sigCols = (0 until K).map(i =>
        min(md5(concat(lit(s"$i|"), col("sh")))).as(s"s$i"))
      val bands = sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
        .select(col("doc_id"),
          posexplode(array((0 until B).map(b =>
            md5(concat_ws("|", (0 until R).map(r => col(s"s${b * R + r}")): _*))): _*))
            .as(Seq("band_idx", "bkey")))
      val cand = bands.select(col("doc_id").as("a_doc_id"), col("band_idx"), col("bkey"))
        .join(bands.select(col("doc_id").as("b_doc_id"), col("band_idx"), col("bkey")),
          Seq("band_idx", "bkey"))
        .filter(col("a_doc_id") < col("b_doc_id"))
        .select("a_doc_id", "b_doc_id").distinct()
      val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val inter = cand
        .join(sh.select(col("doc_id").as("a_doc_id"), col("sh")), "a_doc_id")
        .join(sh.select(col("doc_id").as("b_doc_id"), col("sh")), Seq("b_doc_id", "sh"))
        .groupBy("a_doc_id", "b_doc_id").agg(count(lit(1)).as("i"))
      inter
        .join(n.select(col("doc_id").as("a_doc_id"), col("n").as("a_n")), "a_doc_id")
        .join(n.select(col("doc_id").as("b_doc_id"), col("n").as("b_n")), "b_doc_id")
        .filter(col("i").cast("double") / (col("a_n") + col("b_n") - col("i")) >= 0.8)
        .select(col("a_doc_id"), col("b_doc_id"), col("i").as("n_shared_shingles"),
          r6(col("i").cast("double") / (col("a_n") + col("b_n") - col("i"))).as("jaccard"))
        .orderBy("a_doc_id", "b_doc_id")
    },
    Some("""WITH sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS sh FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents) d, unnest(generate_series(1, len(ws) - 2)) t(i) WHERE len(ws) >= 3) z), sig AS (SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || '|' || sh)) AS sig FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS band) b GROUP BY doc_id, band), bk AS (SELECT doc_id, band // 3 AS band_idx, md5(string_agg(sig, '|' ORDER BY band)) AS bkey FROM sig GROUP BY doc_id, band // 3), cand AS (SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id FROM bk a JOIN bk b ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id), nn AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), iv AS (SELECT c.a_doc_id, c.b_doc_id, COUNT(*) AS i FROM cand c JOIN sh sa ON sa.doc_id = c.a_doc_id JOIN sh sb ON sb.doc_id = c.b_doc_id AND sb.sh = sa.sh GROUP BY 1, 2) SELECT iv.a_doc_id, iv.b_doc_id, iv.i AS n_shared_shingles, ROUND(1e-9 + CAST(iv.i AS DOUBLE) / (na.n + nb.n - iv.i), 6) AS jaccard FROM iv JOIN nn na ON na.doc_id = iv.a_doc_id JOIN nn nb ON nb.doc_id = iv.b_doc_id WHERE CAST(iv.i AS DOUBLE) / (na.n + nb.n - iv.i) >= 0.8 ORDER BY a_doc_id, b_doc_id"""),
  )

  val ops: Seq[Op] = Seq(exactHash, canonicalHashSorted, jaccardPairs,
    containmentPairs, minhashPortable, minhashLsh, simhash, simhashHamming,
    ngramJaccard, editdistBrandPairs, substringExact, paragraphDedup,
    bloomPrefilter, minhashIndexReload, minhashIndexAppend,
    minhashIndexCompact, minhashIndexAutoCompact, minhashIndexDelete, shingleMinhash)
}
