package graft.queries

import graft.QueryPack
import graft.io.Tables
import graft.scale.ConnectedComponents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline
  * (builder brief): exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine. All over the `documents` / `embeddings` tables.
  *
  * The candidate-generation strategies differ (that's the point — they
  * are the 100 TB scale paths), but every near-dup query VERIFIES its
  * candidates with the exact word-3-gram Jaccard and emits only pairs
  * with J >= 0.8. On data where the sketch achieves full recall at the
  * threshold (the fixture's planted dups sit at J >= 0.9 with the next
  * pair down at 0.07), the output is therefore hash-independent and
  * identical to the brute-force answer — which is what the DuckDB
  * oracle computes. Recall shortfalls would surface as row-count
  * mismatches in the t2 gate, making the gate a real recall test.
  *
  * Scale notes:
  *  - shingle self-join shuffles on the shingle string — the standard
  *    sharded inverted index; hot shingles would be dropped by a
  *    document-frequency cap in a production pipeline (not needed on
  *    the fixture; see LshSpec for the property test);
  *  - MinHash bands (16 bands x 4 rows) shuffle on (band, bandHash) —
  *    tiny keys, no row amplification beyond true candidates;
  *  - SimHash blocks on 16 x 4-bit signature chunks (recall-exact to
  *    Hamming distance 15 by pigeonhole);
  *  - embedding near-dup compares only pairs, precomputing norms once;
  *    the all-pairs form is quadratic and exists as the correctness
  *    baseline — the ANN path is SimilarityPack's LSH variant.
  */
object DedupPack extends QueryPack {

  /** doc_id -> (sorted distinct shingle-hash array, its size), via the
    * codegen'd ShingleHashes expression: one byte-walk over the text,
    * each shingle hashed as a byte range (bit-identical to
    * xxhash64(shingle string)), distinct+sorted in place. NARROW — no
    * explode, no groupBy; this is the single base every near-dup query
    * derives from, and at 100 TB it is a pure map stage.
    *
    * Memoized + persisted per (session, sfDir): the signature table IS
    * the materialized artifact of a dedup pipeline, and every near-dup
    * query self-joins over it — without the persist each join side
    * re-scans the corpus and re-hashes every document (7 file scans
    * per query observed in the d_simhash plan). MEMORY_AND_DISK: the
    * table is a narrow (id, longs) projection, orders of magnitude
    * smaller than the corpus text it replaces. */
  private def hashArrays(s: SparkSession, dir: String): DataFrame =
    // MemoPool purges dead-session entries and caps pooled bytes (r15)
    graft.scale.MemoPool.getOrBuild(s, dir, "hashArrays") {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          graft.expr.ShingleHashes(col("text"), 3).as("hs"))
        .withColumn("n", size(col("hs")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(Seq(_))

  /** Exact-verify candidate (ida, idb) pairs against true 3-gram
    * Jaccard (via hash arrays); keep J >= 0.8. At scale the pair set
    * is tiny relative to the corpus, so these are hash joins on
    * doc_id. */
  private def verified(cand: DataFrame, hs: DataFrame): DataFrame = {
    val ha = hs.select(col("doc_id").as("ida"), col("hs").as("hsa"), col("n").as("na"))
    val hb = hs.select(col("doc_id").as("idb"), col("hs").as("hsb"), col("n").as("nb"))
    val i = size(array_intersect(col("hsa"), col("hsb")))
    cand.join(ha, "ida").join(hb, "idb")
      .select(col("ida"), col("idb"), (i / (col("na") + col("nb") - i)).as("j"))
      .filter(col("j") >= 0.8)
      .select(col("ida"), col("idb"), round(col("j"), 4).as("jaccard"))
      .orderBy(col("ida"), col("idb"))
  }

  /** Embeddings with planted near-dup copies: every 5th vector gets a
    * perturbed twin at id+PlantedOffset (element-wise nudge of magnitude
    * <= 0.03 — cosine vs the original ~0.999, far above the 0.95
    * semantic-dup threshold; all other pairs sit below 0.5). The
    * perturbation is pure double arithmetic on plain literals so the
    * DuckDB oracle reproduces it bit-exactly. Memoized + persisted
    * like hashArrays: d_semdedup derives both self-join sides, the
    * re-rank vectors, and the census from it — unpersisted, the
    * embeddings scan and norm projection re-run ~5x per query. */
  private def plantedVecs(s: SparkSession, dir: String): DataFrame =
    graft.scale.MemoPool.getOrBuild(s, dir, "plantedVecs") {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
      val planted = e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + PlantedOffset).as("vec_id"),
          expr("transform(v, (x, i) -> x + 0.01D * ((i % 7) - 3))").as("v"))
      e.union(planted)
        .withColumn("nrm", sqrt(SimilarityPack.dotCols("v", "v")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(Seq(_))

  /** Candidate (ida, idb) pairs from 16 x 4-bit pigeonhole blocks of a
    * 64-bit signature — recall-exact to Hamming 15 by pigeonhole — with
    * the cheap bit_count(xor) <= maxHamming pre-filter applied INSIDE
    * the block join, before anything heavier than two longs ships.
    * Shared by d_simhash (SimHash over shingles) and d_semdedup (sign
    * signatures over embeddings): one copy of the blocking geometry.
    * maxHamming may EXCEED the Hamming-15 recall guarantee (d_simhash
    * passes 16): the filter is a cost bound, not the recall bound —
    * pairs past 15 are kept whenever a nibble happens to collide, and
    * precision is controlled downstream by exact verification, so a
    * looser filter can only ADD recall. Callers whose blocking must
    * be recall-exact (d_semdedup's census) pass <= 15. */
  private[queries] def nibbleBlockCandidates(sigs: DataFrame, idCol: String,
                                    sigCol: String, maxHamming: Int): DataFrame = {
    // PERSIST the chunk rows (r14 optimization round, guide §1/§2.4):
    // the block self-join derives BOTH sides from this projection, and
    // un-persisted each side re-computed the signature expression for
    // the whole corpus — for d_simhash that is SimHashSig's 64 bit
    // votes over every shingle hash, twice (the fused join job measured
    // 2.66 s in the per-job split, today Bench's `slowest_jobs` record;
    // the duplicated signature pass was the bulk). The frame
    // is narrow ((id, sig, chunk, cv) = 24 bytes × 16 rows/doc) and is
    // released by the harness's CacheRegistry drain after the query's
    // action.
    val chunks = sigs.select(col(idCol), col(sigCol), posexplode(expr(
      s"transform(sequence(0, 15), c -> (($sigCol >> (c * 4)) & 15))"))
      .as(Seq("chunk", "cv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.scale.CacheRegistry.track(chunks)
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(expr(s"bit_count(a.$sigCol ^ b.$sigCol) <= $maxHamming"))
      .select(col(s"a.$idCol").as("ida"), col(s"b.$idCol").as("idb"))
      .distinct()
  }

  /** The corpus with planted exact dups (copies of the even-id docs;
    * the fixture itself has none, so the dedup has real work to do). */
  private def withPlanted(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.union(docs.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + PlantedOffset).as("doc_id"), col("text")))
  }

  /** Exact dedup over the planted corpus: (keep_id, n_copies), one row
    * per distinct text, keeper = min doc_id.
    *
    * Scale shape (VERDICT r1): the first groupBy keys on a 64-bit
    * content hash, NOT the text — the all-corpus shuffle carries
    * (hash, doc_id) instead of the full document body. Hash groups
    * with >1 member (a tiny fraction of a real corpus) are then
    * exact-verified by re-grouping just those docs on the text itself,
    * so 64-bit collisions can never merge distinct texts — the output
    * is bit-identical to a full-text groupBy. */
  private def exactDedup(s: SparkSession, dir: String): DataFrame = {
    val all = withPlanted(s, dir)
      .select(col("doc_id"), col("text"), xxhash64(col("text")).as("h"))
    val groups = all.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    val uniques = groups.filter(col("n_copies") === 1)
      .select(col("keep_id"), col("n_copies"))
    val hot = groups.filter(col("n_copies") > 1).select(col("h"))
    val dups = all.join(broadcast(hot), Seq("h"), "left_semi")
      .groupBy(col("h"), col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
    uniques.union(dups)
  }

  /** MinHash+LSH candidate pairs, exact-verified at J >= 0.8 — shared
    * by `d_minhash_lsh` (emits the pairs), `d_cluster` (edges of the
    * dup graph), and `d_pipeline`. Memoized + persisted like
    * hashArrays: the verified pair set is the OTHER materialized
    * artifact of a dedup pipeline (tiny — one row per true near-dup
    * pair), and the clustering stage iterates over it. */
  private def minhashVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    graft.scale.MemoPool.getOrBuild(s, dir, "minhashPairs") {
      minhashVerifiedPairsUncached(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }(Seq(_))

  /** (doc_id, band, bandHash) rows: 16 bands of 4 signature slots each
    * — the LSH bucket keys every banding consumer joins on. */
  private def bandHashes(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(expr(
      """transform(sequence(0, 15), b ->
        |  ((element_at(sig, b*4+1) * 31 + element_at(sig, b*4+2)) * 31
        |    + element_at(sig, b*4+3)) * 31 + element_at(sig, b*4+4))"""
        .stripMargin)).as(Seq("band", "bh")))

  /** Distinct banded candidate pairs (ida < idb) — the pre-verify
    * stage of the MinHash-LSH path, factored out so the scale-growth
    * test (ScaleGrowthSpec) counts THE SAME
    * candidate set the production path verifies — the quantity whose
    * sub-quadratic growth is the whole point of banding.
    *
    * Bucket-width circuit breaker (ADVICE r11 / VERDICT r11 item 6).
    * Two-level expansion bounds per-ROW memory to O(bucket), but a
    * degenerate corpus (thousands of IDENTICAL signatures — exact
    * copies that a real pipeline removes with d_exact first, as
    * d_pipeline does) still concentrates one bucket's O(B²) pair
    * stream in one task. Rather than silently grind, the plan raises
    * a loud error at the offending bucket: width, band and bucket
    * hash in the message, cap `maxBucket` (LshBucketCapSpec passes a
    * small one). The guard is a codegen'd when(): zero cost for every
    * in-bounds bucket. */
  private[graft] def bandedCandidates(s: SparkSession, dir: String,
                                      maxBucket: Int = 1024): DataFrame = {
    // FUSED signature (VERDICT r10 item 3): candidates need only the
    // 64-long signature, so it is computed straight from text in one
    // byte-walk (MinHashTextSig) — the corpus-sized shingle-hash
    // array column (built + persisted by hashArrays, ~16 bytes × 8 ×
    // shingles per doc) leaves this path's plan entirely. The verify
    // stage still builds hashArrays — AFTER candidates exist, when
    // the join is already pair-sized.
    val sigs = Tables(s, dir, "documents").select(col("doc_id"),
      graft.expr.MinHashTextSig(col("text"), 3, 64, 20260812L).as("sig"))
    val bands = bandHashes(sigs)
    // ONE bucket aggregation instead of a band-key SELF-JOIN (r10,
    // VERDICT item 5): the join shuffled the n·16-row band stream
    // TWICE and sort-merged both sides — the measured wall of the
    // 1000x decade (SCALE.md r9: ~80M-row band exchange) — even
    // though almost every bucket is a singleton that can never emit a
    // candidate. Grouping buckets once halves the exchanged volume,
    // drops the second sort, collapses singletons at the aggregate,
    // and expands the surviving buckets' ordered pairs with the same
    // HOF pattern as the co-purchase baskets (no join at all).
    // Identical output: sort_array makes ida < idb, and a multi-band
    // collision dedupes in the same final distinct. Bucket width is
    // bounded by the identical-signature group size (exact copies of
    // one doc) — the corpus-dependent tail a real pipeline bounds by
    // running exact dedup first (d_pipeline does); a pathological
    // bucket would surface in the gated pair count, loudly.
    val buckets = bands.groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .filter(size(col("members")) > 1)
      // circuit breaker: a bucket past the cap means the corpus still
      // carries un-collapsed exact-duplicate cliques (run d_exact
      // first) or the banding scheme has collapsed — fail THE ROW
      // loudly instead of letting one task stream O(B²) pairs
      .withColumn("members",
        when(size(col("members")) > lit(maxBucket),
          raise_error(concat(
            lit(s"LSH bucket width exceeds cap $maxBucket: width="),
            size(col("members")).cast("string"),
            lit(" band="), col("band").cast("string"),
            lit(" bh="), col("bh").cast("string"),
            lit(" — pre-collapse exact duplicates (d_exact) before LSH"))))
          .otherwise(col("members")))
    // TWO-LEVEL expansion (ADVICE r10): the first draft built all
    // O(B²) pair structs of a bucket inside ONE row (flatten of
    // nested transforms), concentrating a pathological bucket's
    // memory on a single task row. posexplode first → each row holds
    // one anchor + the O(B)-wide members array, and the inner explode
    // streams its suffix pairs through GenerateExec without ever
    // materializing the bucket's full pair set — per-ROW width is now
    // O(B), identical output (members is sorted, so ida < idb holds
    // row-wise and multi-band collisions die in the same distinct).
    buckets
      .select(col("members"), posexplode(col("members")).as(Seq("i", "ida")))
      .select(col("ida"), explode(
        slice(col("members"), col("i") + lit(2), size(col("members"))))
        .as("idb"))
      .distinct()
  }

  private def minhashVerifiedPairsUncached(s: SparkSession, dir: String): DataFrame =
    verified(bandedCandidates(s, dir),
      hashArrays(s, dir).select(col("doc_id"), col("hs"), col("n")))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup, keep lowest doc_id — see exactDedup for the
    // content-hash-grouped scale shape.
    "d_exact" -> ((s, dir) => exactDedup(s, dir).orderBy(col("keep_id"))),

    // END-TO-END dedup pipeline — the composition a real corpus goes
    // through before training: exact dedup first (cheap, hash-group),
    // then near-dup clustering over the survivors (MinHash LSH ->
    // verify -> connected components), keep one representative per
    // cluster. Emits the funnel as one auditable row. The stages are
    // the independently-oracle-checked operators above; this query
    // pins their COMPOSITION (stage order and survivor sets), which is
    // where real pipelines break.
    "d_pipeline" -> ((s, dir) => {
      val all = withPlanted(s, dir)
      val survivors = exactDedup(s, dir).select(col("keep_id").as("doc_id"))
      val cc = ConnectedComponents.run(
        minhashVerifiedPairs(s, dir)
          .select(col("ida").as("src"), col("idb").as("dst")))
      val drops = cc.filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      val kept = survivors.join(drops, Seq("doc_id"), "left_anti")
      all.agg(count(lit(1)).as("n_input"))
        .crossJoin(survivors.agg(count(lit(1)).as("n_after_exact")))
        .crossJoin(kept.agg(count(lit(1)).as("n_final"),
          sum(col("doc_id")).as("kept_id_checksum")))
    }),

    // EXACT n-gram Jaccard near-dup via prefix filtering (AllPairs /
    // PPJoin family, Vernica et al.): shingles are hashed to 8-byte
    // keys (cheap shuffle; collision odds ~1e-10 at 64k distinct
    // shingles) and sorted into a canonical global order; only the
    // first n - ceil(t*n) + 1 of each document's shingles are indexed —
    // any pair with J >= t MUST collide inside these prefixes, so the
    // candidate set is exact while the inverted-index join shrinks
    // ~25x at t=0.8. Two further exact prunes run INSIDE the join
    // condition, before any pair row survives to the distinct:
    //  - length-ratio (min/max >= t, implied by J >= t);
    //  - the PPJoin POSITIONAL filter (Xiao et al. 2008): a collision
    //    at 0-based prefix positions (pa, pb) bounds the overlap by
    //    1 + min(na-pa-1, nb-pb-1); J >= t needs overlap
    //    >= ceil(t/(1+t)*(na+nb)) = ceil(4*(na+nb)/9) at t = 0.8, so
    //    the filter is the INTEGER-exact 9*(1+min(...)) >= 4*(na+nb).
    //    Common elements appear in the same relative order in both
    //    sorted arrays, so a true pair's FIRST collision always
    //    passes — no true pair is lost, only verification work.
    // SCALE NOTE (measured, bench/scale_growth_r7.json): this exact
    // path is the LABELED BOUNDED-CORPUS BASELINE, not the scale
    // path. Over a closed vocabulary every shingle's document
    // frequency grows linearly with the corpus, so the prefix-index
    // join output grows ~quadratically no matter how it is filtered —
    // d_minhash_lsh (measured flat at 10x) is the 100 TB default.
    "d_ngram_jaccard" -> ((s, dir) => {
      val t = 0.8
      val hs = hashArrays(s, dir)
      val pref = hs.select(col("doc_id"), col("n"),
        posexplode(expr(s"slice(hs, 1, size(hs) - cast(ceil($t * size(hs)) as int) + 1)"))
          .as(Seq("p", "h")))
      val cand = pref.as("a")
        .join(pref.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
            least(col("a.n"), col("b.n")) >= greatest(col("a.n"), col("b.n")) * t &&
            (lit(1) + least(col("a.n") - col("a.p") - 1,
              col("b.n") - col("b.p") - 1)) * 9 >=
              (col("a.n") + col("b.n")) * 4)
        .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
        .distinct()
      verified(cand, hs)
    }),

    // Exact-substring dedup pairs (the Lee et al. 2021 "Deduplicating
    // Training Data Makes Language Models Better" shape, approximated
    // with fixed 12-word windows instead of a suffix array): two
    // documents are substring-dups when they share ANY exact 12-word
    // window; emit the pair with how many distinct windows they share.
    // Runs on the planted corpus so the operator has real work.
    //
    // Scale shape: windows are 8-byte ShingleHashes (one codegen pass,
    // distinct per doc — never the window text), so the inverted-index
    // self-join shuffles (hash, doc_id) pairs only. A 12-word window is
    // ~unique in a real corpus unless genuinely duplicated, so posting
    // lists are short; a df cap (t_boilerplate's lesson) would bound
    // any pathological hot window. The pair agg keys on (ida, idb) —
    // output-sized, tiny.
    "d_substr" -> ((s, dir) => {
      // persisted: both self-join sides derive from it — without the
      // persist each side re-scans and re-hashes the planted corpus
      // whenever exchange reuse fails to canonicalize the two subtrees
      val win = withPlanted(s, dir)
        .select(col("doc_id"),
          explode(graft.expr.ShingleHashes(col("text"), 12)).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // per-invocation persist: deposit with the harness ledger so
      // Bench/Verify release it after the action — unlike the
      // memoized session-lifetime caches above, this one would
      // otherwise leak one corpus-sized frame per run
      graft.scale.CacheRegistry.track(win)
      val a = win.select(col("h"), col("doc_id").as("ida"))
      val b = win.select(col("h"), col("doc_id").as("idb"))
      a.join(b, "h").filter(col("ida") < col("idb"))
        .groupBy(col("ida"), col("idb"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("ida"), col("idb"))
    }),

    // INCREMENTAL (cross-batch) dedup — dedup an incoming batch
    // against the existing corpus without re-pairing the corpus with
    // itself. At 100 TB history is never re-deduped: its materialized
    // signature/band index is probed by the (comparatively tiny) new
    // batch, so the band join is existing-index x broadcast(incoming)
    // and only CROSS pairs (existing, incoming) are generated — the
    // existing-existing quadratic never re-runs. Batch membership here
    // is doc_id % 20 = 0 (a 5% ingest — small enough that broadcasting
    // its band rows is the honest shape, unlike a half-corpus "batch");
    // matches are exact-verified at J >= 0.8 like
    // every near-dup path (LSH prunes, Jaccard decides). Emits a full
    // incoming census: match count, earliest matching doc, dup flag.
    "d_incremental" -> ((s, dir) => {
      val isInc = col("doc_id") % 20 === 0
      // fused text → signature, same as bandedCandidates: the band
      // index build never touches the shingle arrays
      val sigs = Tables(s, dir, "documents").select(col("doc_id"),
        graft.expr.MinHashTextSig(col("text"), 3, 64, 20260812L).as("sig"))
      val bands = bandHashes(sigs)
      val cand = bands.filter(!isInc).as("a")
        .join(broadcast(bands.filter(isInc)).as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
        .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
        .distinct()
      val matches = verified(cand, hashArrays(s, dir))
        .select(col("idb").as("doc_id"), col("ida"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_matches"), min(col("ida")).as("first_match"))
      Tables(s, dir, "documents").filter(isInc).select(col("doc_id"))
        .join(matches, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          coalesce(col("first_match"), lit(-1L)).as("first_match"),
          col("n_matches").isNotNull.as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // MinHash + LSH near-dup: 64 permutations h_i(x) = (a_i*x + b_i)
    // mod P over xxhash64'd shingles, banded 16x4; candidates are
    // pairs agreeing on any band, then exact-verified. The only
    // all-corpus shuffles are groupBy(doc_id) for signatures and
    // groupBy(band, bandHash) for buckets — both linear.
    "d_minhash_lsh" -> ((s, dir) => {
      // 64 permutations h_i as INDEPENDENT pseudo-random draws: a
      // structured family like a_i = (2i+1)*c makes h_i(x) an
      // arithmetic progression in i for fixed x, so one shingle whose
      // progression stays small is the argmin for a run of consecutive
      // permutations — observed as a 12-sigma signature-agreement
      // deficit (44/64 where ~63/64 expected for a J=0.98 pair) and a
      // missed true pair at sf0.1. Signature is a NARROW projection
      // over the per-doc hash array (MinHashSig expression) — no
      // groupBy shuffle; SketchExprSpec checks it against a test-side
      // UDAF reference over exploded rows (graft.scale.Sketches).
      // Band hash = polynomial combine of 4 minima.
      minhashVerifiedPairs(s, dir)
    }),

    // Dup-CLUSTER assignment — the completion step of fuzzy dedup: the
    // verified near-dup pairs become edges of the dup graph, connected
    // components assign every involved doc to a cluster keyed by its
    // min doc_id, and `is_rep` marks the one document per cluster a
    // dedup pass would keep. Transitivity is the point: A~B and B~C
    // put A and C in one cluster even when J(A, C) < threshold —
    // pair-level dedup alone over-keeps. See scale/ConnectedComponents
    // for the iteration/convergence mechanics and the 100 TB notes.
    "d_cluster" -> ((s, dir) => {
      val edges = minhashVerifiedPairs(s, dir)
        .select(col("ida").as("src"), col("idb").as("dst"))
      val cc = ConnectedComponents.run(edges)
      val sizes = cc.groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "component")
        .select(col("node").as("doc_id"), col("component"),
          col("cluster_size"),
          (col("node") === col("component")).as("is_rep"))
        .orderBy(col("doc_id"))
    }),

    // Quality-aware duplicate-REPRESENTATIVE election — the
    // Dolma/RefinedWeb step after clustering: instead of d_cluster's
    // positional rep (min doc_id), each dup cluster keeps its
    // HIGHEST-QUALITY member, ranked by t_quality's bucket
    // (TextPack.qualityRank — shared definition) with lowest-doc_id
    // tie-break. The election is ONE max_by aggregate over the
    // existing component frame; the composite key packs
    // (q_rank, -doc_id) into a single long (q_rank * 2^44 - doc_id —
    // doc_id stays far below 2^44 at any SF), so both engines elect
    // integer-exactly with no float ordering, no window, and no new
    // shuffle beyond the component agg (the quality frame joins in on
    // doc_id before the component exchange). At 100 TB: q_rank is a
    // narrow per-doc projection, the join is id+tinyint wide, and the
    // agg is component-keyed — the same partitioning d_cluster already
    // produced.
    "d_rep_quality" -> ((s, dir) => {
      val edges = minhashVerifiedPairs(s, dir)
        .select(col("ida").as("src"), col("idb").as("dst"))
      val cc = ConnectedComponents.run(edges)
      val qr = TextPack.qualityRank(Tables(s, dir, "documents"))
      cc.join(qr, cc("node") === qr("doc_id"))
        .groupBy(col("component"))
        .agg(
          max_by(col("doc_id"),
            col("q_rank") * lit(17592186044416L) - col("doc_id"))
            .as("rep_doc"),
          count(lit(1)).as("n_members"),
          max(col("q_rank")).as("rep_score"))
        .orderBy(col("component"))
    }),

    // CONTAINMENT near-dup — the asymmetric complement of Jaccard:
    // C(A in B) = |A ∩ B| / |A| >= 0.9 catches a document copied INTO
    // a larger one (quote farms, boilerplate wrappers), which
    // symmetric J >= 0.8 misses once the host grows. Exact candidate
    // guarantee by the containment prefix filter (PPJoin adapted):
    // order each doc's shingles by GLOBAL (df, hash) — rarest first —
    // and index only the first floor((1-t)*n)+1; if A-in-B holds, B
    // must share one of those (fewer than (1-t)*n+1 of A's shingles
    // can be missing), so probing A's prefix against the full
    // inverted index is exact. The df table is vocabulary-sized
    // (Heaps-sublinear) and the prefix shrinks the probe side 10x at
    // t=0.9; keys are 8-byte hashes throughout.
    "d_containment" -> ((s, dir) => {
      val t = 0.9
      val hs = hashArrays(s, dir)
      val all = hs.select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
      val dfreq = all.groupBy(col("h")).agg(count(lit(1)).as("df"))
      import org.apache.spark.sql.expressions.Window
      val byRarity = Window.partitionBy(col("doc_id"))
        .orderBy(col("df").asc, col("h").asc)
      // prefix length = n - ceil(t*n) + 1, in INTEGER arithmetic
      // (t = 9/10): double floor((1-t)*n) loses exactly the boundary
      // cases — (1-0.9)*10 is 0.999... in binary, so a 10-shingle doc
      // indexed 1 shingle instead of 2 and candidate generation
      // dropped a true containment pair (caught by the oracle gate)
      val prefix = all.join(dfreq, "h")
        .withColumn("pos", row_number().over(byRarity))
        .filter(col("pos") <= expr("n - CAST((n * 9 + 9) DIV 10 AS INT) + 1"))
        .select(col("doc_id").as("ida"), col("h"))
      val cand = prefix
        .join(all.select(col("doc_id").as("idb"), col("h")), Seq("h"))
        .filter(col("ida") =!= col("idb"))
        .select(col("ida"), col("idb"))
        .distinct()
      val ha = hs.select(col("doc_id").as("ida"), col("hs").as("hsa"),
        col("n").as("na"))
      val hb = hs.select(col("doc_id").as("idb"), col("hs").as("hsb"))
      cand.join(ha, "ida").join(hb, "idb")
        .select(col("ida"), col("idb"),
          (size(array_intersect(col("hsa"), col("hsb"))) / col("na"))
            .as("c"))
        .filter(col("c") >= t)
        .select(col("ida"), col("idb"), round(col("c"), 4).as("containment"))
        .orderBy(col("ida"), col("idb"))
    }),

    // SimHash near-dup: 64-bit signature from bit votes of the
    // xxhash64'd 3-gram SHINGLES (not unigrams: with a small shared
    // vocabulary every document has near-identical unigram statistics,
    // so unigram SimHash puts random pairs at small Hamming distance
    // and the blocking drowns in false candidates — shingles are the
    // discriminative feature set, exactly as in the Jaccard ops).
    // Blocking on 16 x 4-bit chunks (pigeonhole-exact for Hamming
    // <= 15; J~0.8 pairs land around Hamming 5-12), then a cheap exact
    // Hamming pre-filter on the 8-byte signatures, then exact Jaccard
    // verification.
    "d_simhash" -> ((s, dir) => {
      // the 64 bit votes as a NARROW projection over the per-doc hash
      // array (SimHashSig), no aggregation; SketchExprSpec checks it
      // against a test-side UDAF reference (graft.scale.Sketches)
      val sigs = hashArrays(s, dir)
        .withColumn("sim", graft.expr.SimHashSig(col("hs")))
      // 4-bit buckets are deliberately loose (recall guarantee), so the
      // candidate set is large — nibbleBlockCandidates prunes it with
      // the exact Hamming distance on the 8-byte signatures BEFORE the
      // shingle-array verification join: bit_count(xor) is a few
      // cycles per pair, while the Jaccard join ships two ~400-element
      // arrays per pair. J >= 0.8 pairs sit near Hamming 6-12; random
      // pairs at 32 +- 4, so <= 16 keeps every true pair the blocking
      // can surface and drops ~all noise (sub-ppm false-keep rate).
      val cand = nibbleBlockCandidates(sigs, "doc_id", "sim", maxHamming = 16)
      verified(cand, sigs.select(col("doc_id"), col("hs"), col("n")))
    }),

    // SemDeDup (Abbas et al. 2023) — SEMANTIC dedup census over
    // embeddings: drop all but one representative of every group of
    // vectors with cosine >= 0.95. The corpus plants perturbed copies
    // of every 5th vector (deterministic element-wise nudge the oracle
    // reproduces bit-exactly), since the raw fixture has no semantic
    // dups. Candidate generation is the d_simhash geometry applied to
    // sign signatures: 64 literal hyperplanes give a 64-bit signature;
    // 16 x 4-bit pigeonhole blocks make blocking recall-EXACT to
    // Hamming 15 (dup twins at cos ~0.999 flip ~3 of 64 bits even for
    // small-norm vectors — a 16-bit/4-band first cut missed one
    // planted pair at sf0.1, caught by the oracle's all-pairs census);
    // an xor+bit_count Hamming <= 15 pre-filter on the 8-byte sigs
    // prunes the block-join candidates before any vector math, then
    // exact cosine verifies and connected components elect min-id
    // representatives.
    //
    // Scale shape: signatures are a narrow (vec_id, int64) projection
    // (hyperplanes are plan-time literals); the block join and
    // pre-filter carry (id, id) and (id, long) pairs only; exact
    // cosine runs on the Hamming survivors, not the n^2 pair space —
    // the d_embed_cos quadratic baseline is exactly what this path
    // replaces at 100 TB.
    "d_semdedup" -> ((s, dir) => {
      val ev = plantedVecs(s, dir)
      // 64 sign bits in ONE codegen expression (SignBitsSig) — the
      // composed 64-branch when(DotProduct > 0) chain it replaces
      // produced the same bits (parity spec-pinned) but a codegen tree
      // janino spends seconds compiling
      val sigs = ev.select(col("vec_id"),
        graft.expr.SignBitsSig(col("v"), 64, 64, 7L).as("sig"))
      val cand = nibbleBlockCandidates(sigs, "vec_id", "sig", maxHamming = 15)
      val va = ev.select(col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"))
      val vb = ev.select(col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb"))
      val pairs = cand.join(va, "ida").join(vb, "idb")
        .filter(SimilarityPack.dotCols("va", "vb") / (col("na") * col("nb")) >= 0.95)
        .select(col("ida").as("src"), col("idb").as("dst"))
      val cc = ConnectedComponents.run(pairs)
      ev.select(col("vec_id"))
        .join(cc, ev("vec_id") === cc("node"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("rep_id"))
        .withColumn("is_kept", col("rep_id") === col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // Cluster-SCOPED SemDeDup — the paper's actual shape (Abbas et al.
    // 2023 §3: k-means the corpus, verify only within clusters) and
    // the 100 TB path the sign-blocked exact census above is NOT
    // (measured quadratic, SCALE.md r7 extended tier). Candidate
    // space is Σ_c |c|² instead of n²: with k ~ n/512 clusters the
    // verify stage is ~512·n pairs — linear in the corpus at fixed
    // cluster size. Cross-cluster dup pairs are missed BY DESIGN
    // (that is the approximation the paper accepts); the gate is
    // exact anyway because the DuckDB oracle reproduces the identical
    // integer-lattice Lloyd clusters (the s_kmeans recurrence) and
    // therefore the identical misses — it gates REPRODUCIBILITY of
    // the approximate algorithm, not recall vs all-pairs.
    //
    // Determinism chain, both engines: planted ids are remapped to a
    // DENSE 0..n-1 id arithmetically (original ids are dense by the
    // fixture contract s_kmeans already relies on; planted twin of
    // orig o gets n0 + o/5) so Lloyd's stride seeding lands on rows
    // that exist at ANY k; k = clamp(n/512, 4, 4096) from the same
    // arithmetic n on both sides (require() guards the dense-id
    // assumption against fixture drift); 2 Lloyd rounds on the
    // floor(x*1000) lattice; assignment min-key ties fused as
    // dist*k+cid. Scale shape: centroids broadcast (k×64 longs, ≤2 MB
    // at the cap), one corpus scan per round, census self-join is an
    // equi-join on cid (AQE-skew-safe). Past the k cap the production
    // recipe is hierarchical (coarse 4096, then re-cluster within) —
    // documented in SCALE.md, same rule as IVF's nlist.
    "d_semdedup_scoped" -> ((s, dir) => {
      val ev = plantedVecs(s, dir)
      val n0 = Tables(s, dir, "embeddings").count() // bounded: scalar
      val n = n0 + (n0 + 4) / 5
      require(n == ev.count(),
        s"embeddings vec_id is not dense 0..${n0 - 1}: planted count mismatch")
      val k = math.min(4096L, math.max(4L, n / 512)).toInt
      val dense = ev.withColumn("did",
        expr(s"CASE WHEN vec_id < $PlantedOffset THEN vec_id " +
          s"ELSE $n0 + (vec_id - $PlantedOffset) div 5 END"))
      val q = dense.select(col("did").as("vec_id"),
        expr("transform(v, x -> CAST(floor(x * 1000) AS BIGINT))").as("qv"))
      val (assigned, _) = graft.scale.KMeans.lloydQuantized(s, q, k,
        iters = 2, finalUpdate = false) // centroids discarded — skip
                                        // the last corpus-sized update
      val pv = dense.join(
          assigned.select(col("vec_id").as("did"), col("cid")), "did")
        .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
      val a = pv.select(col("cid"), col("vec_id").as("ida"),
        col("v").as("va"), col("nrm").as("na"))
      val b = pv.select(col("cid"), col("vec_id").as("idb"),
        col("v").as("vb"), col("nrm").as("nb"))
      val pairs = a.join(b, Seq("cid")).filter(col("ida") < col("idb"))
        .filter(SimilarityPack.dotCols("va", "vb") / (col("na") * col("nb")) >= 0.95)
        .select(col("ida").as("src"), col("idb").as("dst"))
      val cc = ConnectedComponents.run(pairs) // dup cliques: diameter ~1
      ev.select(col("vec_id"))
        .join(cc, ev("vec_id") === cc("node"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("rep_id"))
        .withColumn("is_kept", col("rep_id") === col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // Embedding-cosine near-dup: norms precomputed once per vector,
    // pair filter on cosine >= 0.45. All-pairs is the correctness
    // baseline (the fixture has no planted vector dups; 0.45 keeps the
    // output small); the sublinear path is SimilarityPack's LSH.
    "d_embed_cos" -> ((s, dir) => {
      // ONE vector projection shared with the ANN pack this query is
      // the correctness baseline for — a drifting inline copy would
      // silently un-baseline it
      val e = SimilarityPack.vecs(s, dir)
      // repartition the streamed side: a single-file scan arrives in 1-2
      // partitions and a BroadcastNestedLoopJoin inherits that — this
      // spreads the O(n^2/2) pair work across all cores
      val a = e.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na"))
        .repartition(col("ia"))
      val b = e.select(col("vec_id").as("ib"), col("v").as("vb"), col("nrm").as("nb"))
      a.crossJoin(broadcast(b)).filter(col("ia") < col("ib"))
        .withColumn("cos",
          SimilarityPack.dotCols("va", "vb") / (col("na") * col("nb")))
        .filter(col("cos") >= 0.45)
        .select(col("ia"), col("ib"), round(col("cos"), 4).as("cos"))
        .orderBy(col("ia"), col("ib"))
    }),

    // Entity resolution on a low-cardinality attribute: fuzzy-match
    // part NAMES (typo-distance <= 2) on the distinct-value VOCABULARY,
    // not the row stream — the resolve-then-map-back shape of schema
    // matching and catalog reconciliation. The vocabulary is bounded by
    // the attribute's domain (grows ~log with corpus), so the pairwise
    // stage is corpus-size-independent; the only corpus-sized work is
    // the grouped count feeding it. The length-band prefilter is
    // LOSSLESS for edit distance (|len(a)-len(b)| <= dist always), so
    // the blocked result equals the unblocked one — which is what the
    // oracle computes.
    "d_fuzzy_names" -> ((s, dir) => {
      val vocab = Tables(s, dir, "part")
        .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
      val a = vocab.select(col("p_name").as("name_a"), col("n").as("n_a"))
      val b = vocab.select(col("p_name").as("name_b"), col("n").as("n_b"))
      a.join(broadcast(b), col("name_a") < col("name_b") &&
          abs(length(col("name_a")) - length(col("name_b"))) <= 2)
        .withColumn("dist",
          levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= 2)
        .select(col("name_a"), col("name_b"), col("dist"),
          col("n_a"), col("n_b"))
        .orderBy(col("name_a"), col("name_b"))
    })
  )

  /** Exact 3-gram-Jaccard >= 0.8 pairs — the shared oracle CTE chain
    * for all three near-dup text queries (their outputs are by
    * construction the verified-exact answer) and the pair base of the
    * d_cluster/d_pipeline/d_rep_quality component oracles. Ends at
    * `p(ida, idb, jaccard)`.
    *
    * r10 shape notes: shingles are dictionary-encoded to dense ints
    * (`dict`/`sid`) before the heavy shared-shingle self-join — the
    * encoding is a bijection (row_number over DISTINCT shingles), so
    * the result is bit-identical while the sf1 join (113M intermediate
    * rows) stops paying string-key hashing; `sh` and `p` carry
    * MATERIALIZED so the planner can never re-inline the pair build
    * per downstream reference. */
  private val exactJaccardCtes =
    """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |shs AS (SELECT DISTINCT doc_id, s FROM (
      |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                         for i in range(1, greatest(len(w) - 1, 1))]) AS s
      |  FROM w)),
      |dict AS (SELECT s, row_number() OVER () AS sid
      |         FROM (SELECT DISTINCT s FROM shs)),
      |sh AS MATERIALIZED (SELECT doc_id, sid FROM shs JOIN dict USING (s)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
      |  FROM sh a JOIN sh b USING (sid) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (
      |  SELECT ida, idb, i * 1.0 / (ca.n + cb.n - i) AS j
      |  FROM inter JOIN cnt ca ON ca.doc_id = ida JOIN cnt cb ON cb.doc_id = idb),
      |p AS MATERIALIZED (
      |  SELECT ida, idb, round(j, 4) AS jaccard FROM j
      |  WHERE j >= 0.8)""".stripMargin

  private val exactJaccardSql =
    s"WITH $exactJaccardCtes\nSELECT ida, idb, jaccard FROM p\nORDER BY ida, idb"

  /** Symmetric edge view of the jaccard pairs, feeding
    * [[OracleCc.starCcRounds]]. */
  private val jaccardEdges =
    """edges AS MATERIALIZED (
      |  SELECT ida AS s, idb AS d FROM p
      |  UNION SELECT idb AS s, ida AS d FROM p)""".stripMargin

  /** Planted-twin id offset: a planted copy of row `id` gets
    * `id + PlantedOffset`. MUST exceed the largest real id in any
    * corpus the planted ops run on, or planted ids COLLIDE with real
    * rows and the dedup semantics silently corrupt — the round-7
    * 100x corpus (500k docs / 200k embeddings) overflowed the
    * original 100,000 offset exactly this way (caught in review; the
    * tainted measurements were re-run). tools/ScaleUp enforces the
    * bound where it mints ids; d_semdedup_scoped re-checks it per run. 10M covers any single-box corpus; on a
    * real cluster this becomes a per-dataset config. */
  private[graft] val PlantedOffset = 10000000L

  /** The planted-vector corpus CTE shared by the two d_semdedup
    * oracles — ONE copy of the twin-derivation text (the oracle twin
    * of the plantedVecs base), so the exact and scoped gates cannot
    * silently drift apart (the lesson of GeoPack's one grid join). */
  private val plantedVecsCte =
    s"""all_v AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + $PlantedOffset,
      |    [CAST(embedding[i] AS DOUBLE) + 0.01 * (((i - 1) % 7) - 3)
      |     for i in range(1, len(embedding) + 1)]
      |  FROM embeddings WHERE vec_id % 5 = 0)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "d_exact" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $PlantedOffset AS doc_id, text FROM documents WHERE doc_id % 2 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM all_docs GROUP BY text ORDER BY keep_id""".stripMargin,

    "d_pipeline" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $PlantedOffset AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0),
        |surv AS (SELECT min(doc_id) AS doc_id FROM all_docs GROUP BY text),
        |$exactJaccardCtes,
        |$jaccardEdges,
        |${OracleCc.starCcRounds()},
        |drops AS (SELECT node AS doc_id FROM comp WHERE node <> component),
        |kept AS (
        |  SELECT s.doc_id FROM surv s
        |  WHERE s.doc_id NOT IN (SELECT doc_id FROM drops))
        |SELECT
        |  (SELECT count(*) FROM all_docs) AS n_input,
        |  (SELECT count(*) FROM surv) AS n_after_exact,
        |  count(*) AS n_final,
        |  CAST(sum(doc_id) AS BIGINT) AS kept_id_checksum
        |FROM kept""".stripMargin,

    "d_ngram_jaccard" -> exactJaccardSql,
    "d_minhash_lsh" -> exactJaccardSql,
    "d_simhash" -> exactJaccardSql,

    // distinct 12-word windows per doc as strings (the Spark side
    // hashes the same windows; counts agree absent xxhash64 collision)
    "d_substr" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + $PlantedOffset AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 0),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id,
        |    unnest([array_to_string(w[i:i+11], ' ')
        |            for i in range(1, greatest(len(w) - 10, 1))]) AS s
        |  FROM w)),
        |pairs AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS n_shared
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ida, idb, n_shared FROM pairs ORDER BY ida, idb""".stripMargin,

    // exact containment over ALL ordered pairs (both directions):
    // pairs sharing zero shingles cannot reach the threshold, so the
    // shared-shingle join is complete
    "d_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                         for i in range(1, greatest(len(w) - 1, 1))]) AS s
        |  FROM w)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM sh a JOIN sh b USING (s) WHERE a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ida, idb, round(i * 1.0 / ca.n, 4) AS containment
        |FROM inter JOIN cnt ca ON ca.doc_id = ida
        |WHERE i * 1.0 / ca.n >= 0.9
        |ORDER BY ida, idb""".stripMargin,

    "d_incremental" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                         for i in range(1, greatest(len(w) - 1, 1))]) AS s
        |  FROM w)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT e.doc_id AS ide, i.doc_id AS idi, count(*) AS i
        |  FROM sh e JOIN sh i USING (s)
        |  WHERE e.doc_id % 20 <> 0 AND i.doc_id % 20 = 0
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT ide, idi, i * 1.0 / (ce.n + ci.n - i) AS j
        |  FROM inter JOIN cnt ce ON ce.doc_id = ide
        |             JOIN cnt ci ON ci.doc_id = idi),
        |m AS (
        |  SELECT idi, count(*) AS n_matches, min(ide) AS first_match
        |  FROM j WHERE j >= 0.8 GROUP BY 1),
        |inc AS (SELECT doc_id FROM documents WHERE doc_id % 20 = 0)
        |SELECT inc.doc_id,
        |  CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
        |  coalesce(m.first_match, -1) AS first_match,
        |  m.idi IS NOT NULL AS is_dup
        |FROM inc LEFT JOIN m ON m.idi = inc.doc_id
        |ORDER BY doc_id""".stripMargin,

    // Components via bounded star-contraction rounds (OracleCc): the
    // same min-of-component labels the old recursive closure computed,
    // at O(E) per round instead of O(sum component^2) total.
    "d_cluster" ->
      s"""WITH $exactJaccardCtes,
        |$jaccardEdges,
        |${OracleCc.starCcRounds()},
        |sizes AS (
        |  SELECT component, count(*) AS cluster_size
        |  FROM comp GROUP BY component)
        |SELECT comp.node AS doc_id, comp.component, sizes.cluster_size,
        |  comp.node = comp.component AS is_rep
        |FROM comp JOIN sizes USING (component)
        |ORDER BY doc_id""".stripMargin,

    // same components + t_quality's CASE ladder as an integer rank;
    // arg_max on the identical packed (q_rank, -doc_id) key (`q`/`j`
    // of the old text renamed qd/jj — the jaccard chain owns j now)
    "d_rep_quality" ->
      s"""WITH $exactJaccardCtes,
        |$jaccardEdges,
        |${OracleCc.starCcRounds()},
        |qd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id, len(w) AS n_tokens,
        |    list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w) AS avg_len,
        |    len(list_filter(w, x -> x IN ('the', 'a'))) * 1.0 / len(w) AS stop_r,
        |    len(list_filter(w, x -> len(x) <= 2)) * 1.0 / len(w) AS short_r
        |  FROM qd),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN stop_r > 0.15 OR short_r > 0.2 THEN 0
        |         WHEN n_tokens BETWEEN 20 AND 200 AND avg_len >= 4.0 THEN 2
        |         ELSE 1 END AS q_rank
        |  FROM m),
        |jj AS (
        |  SELECT comp.component, comp.node AS doc_id, r.q_rank
        |  FROM comp JOIN r ON r.doc_id = comp.node)
        |SELECT component,
        |  CAST(arg_max(doc_id, q_rank * 17592186044416 - doc_id) AS BIGINT)
        |    AS rep_doc,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(max(q_rank) AS BIGINT) AS rep_score
        |FROM jj GROUP BY component ORDER BY component""".stripMargin,

    // all-pairs exact cosine over the planted corpus + bounded
    // star-contraction components — the brute-force twin of the
    // banded Spark path
    "d_semdedup" ->
      ("WITH " + plantedVecsCte + ",\n" +
      s"""n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM all_v),
        |p AS MATERIALIZED (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.95),
        |edges AS MATERIALIZED (
        |  SELECT ida AS s, idb AS d FROM p
        |  UNION SELECT idb AS s, ida AS d FROM p),
        |${OracleCc.starCcRounds()}
        |SELECT n.vec_id,
        |  CAST(coalesce(comp.component, n.vec_id) AS BIGINT) AS rep_id,
        |  coalesce(comp.component, n.vec_id) = n.vec_id AS is_kept
        |FROM n LEFT JOIN comp ON comp.node = n.vec_id
        |ORDER BY n.vec_id""".stripMargin),

    // The same planted census, but verified only WITHIN the clusters
    // of a 2-round integer-lattice Lloyd's (the s_kmeans recurrence
    // generalized to adaptive k = clamp(n/512, 4, 4096) and dense
    // remapped ids) — reproduces the Spark side's clusters, and hence
    // its (intentional) cross-cluster misses, exactly.
    // r10 assignment shape: the old per-dimension `dims JOIN c0/c1`
    // formulation pushed O(n·k·64) narrow rows through hash joins —
    // 7.2B at sf1, the oracle-side blow-up. The SAME integer-lattice
    // recurrence is now computed over LIST dot products
    // (||q-c||² = q·q - 2q·c + c·c), 64× fewer rows and SIMD inside
    // list_dot_product. All quantities are integer-valued and < 2^53,
    // so the double-precision arithmetic is EXACT — the gate
    // hash-matched the rewrite against both the old oracle (sf0.01/
    // sf0.1) and the Spark dump (sf1) before it landed.
    "d_semdedup_scoped" ->
      ("WITH " + plantedVecsCte + ",\n" +
      s"""nv AS MATERIALIZED (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM all_v),
        |prm AS MATERIALIZED (
        |  SELECT n0, n,
        |    least(greatest(4, n // 512), 4096) AS k,
        |    greatest(1, n // least(greatest(4, n // 512), 4096)) AS st
        |  FROM (SELECT n0, n0 + (n0 + 4) // 5 AS n
        |        FROM (SELECT count(*) AS n0 FROM embeddings))),
        |den AS MATERIALIZED (
        |  SELECT a.vec_id,
        |    CASE WHEN a.vec_id < $PlantedOffset THEN a.vec_id
        |         ELSE p.n0 + (a.vec_id - $PlantedOffset) // 5 END AS did,
        |    a.v, a.nrm
        |  FROM nv a, prm p),
        |q AS MATERIALIZED (
        |  SELECT did,
        |    list_transform(v, x -> CAST(floor(x * 1000) AS DOUBLE)) AS qv
        |  FROM den),
        |qn AS MATERIALIZED (
        |  SELECT did, qv, list_dot_product(qv, qv) AS qq FROM q),
        |c0 AS MATERIALIZED (
        |  SELECT did // p.st AS cid, qv AS cv, list_dot_product(qv, qv) AS cc
        |  FROM q, prm p
        |  WHERE did % p.st = 0 AND did // p.st < p.k),
        |a1 AS MATERIALIZED (
        |  SELECT did, min(key) AS key FROM (
        |    SELECT qn.did, c0.cid,
        |      (qn.qq - 2 * list_dot_product(qn.qv, c0.cv) + c0.cc) * p.k + c0.cid
        |        AS key
        |    FROM qn, c0, prm p) GROUP BY 1),
        |mem1 AS (
        |  SELECT CAST(a1.key % p.k AS BIGINT) AS cid, qn.did, qn.qv
        |  FROM a1 JOIN qn USING (did), prm p),
        |c1n AS MATERIALIZED (
        |  SELECT cid, t.d,
        |    CAST(floor(sum(qv[t.d + 1]) / count(*)) AS DOUBLE) AS v
        |  FROM mem1, range(64) t(d) GROUP BY 1, 2),
        |c1nl AS MATERIALIZED (
        |  SELECT cid, list(v ORDER BY d) AS cv FROM c1n GROUP BY cid),
        |c1 AS MATERIALIZED (
        |  SELECT c0.cid, coalesce(c1nl.cv, c0.cv) AS cv,
        |    list_dot_product(coalesce(c1nl.cv, c0.cv),
        |                     coalesce(c1nl.cv, c0.cv)) AS cc
        |  FROM c0 LEFT JOIN c1nl ON c0.cid = c1nl.cid),
        |a2 AS MATERIALIZED (
        |  SELECT did, min(key) AS key FROM (
        |    SELECT qn.did, c1.cid,
        |      (qn.qq - 2 * list_dot_product(qn.qv, c1.cv) + c1.cc) * p.k + c1.cid
        |        AS key
        |    FROM qn, c1, prm p) GROUP BY 1),
        |asg AS MATERIALIZED (
        |  SELECT a2.did, CAST(a2.key % p.k AS BIGINT) AS cid FROM a2, prm p),
        |pv AS MATERIALIZED (
        |  SELECT den.vec_id, asg.cid, den.v, den.nrm
        |  FROM den JOIN asg USING (did)),
        |p2 AS MATERIALIZED (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb
        |  FROM pv a JOIN pv b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.95),
        |edges AS MATERIALIZED (
        |  SELECT ida AS s, idb AS d FROM p2
        |  UNION SELECT idb AS s, ida AS d FROM p2),
        |${OracleCc.starCcRounds()}
        |SELECT nv.vec_id,
        |  CAST(coalesce(comp.component, nv.vec_id) AS BIGINT) AS rep_id,
        |  coalesce(comp.component, nv.vec_id) = nv.vec_id AS is_kept
        |FROM nv LEFT JOIN comp ON comp.node = nv.vec_id
        |ORDER BY nv.vec_id""".stripMargin),

    "d_embed_cos" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
        |SELECT a.vec_id AS ia, b.vec_id AS ib,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45
        |ORDER BY ia, ib""".stripMargin,

    "d_fuzzy_names" ->
      """WITH v AS (
        |  SELECT p_name, CAST(count(*) AS BIGINT) AS n
        |  FROM part GROUP BY 1)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |  a.n AS n_a, b.n AS n_b
        |FROM v a JOIN v b ON a.p_name < b.p_name
        |  AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin
  )
}
