package graft.queries

import graft.QueryPack
import graft.io.Tables
import graft.text.TextFeatures._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline
  * (builder brief: language-ID, quality scoring, token counting,
  * document fingerprinting), over the `documents` table. The reference
  * has no distributed text ops at all — its only text processing is a
  * driver-side pandas `.apply` (data_utils.py:160-215, SURVEY.md X1);
  * every operator here is a pure Catalyst expression pipeline: one
  * narrow projection stage per document, no shuffle except final
  * deterministic ordering, trivially data-parallel at 100 TB.
  */
object TextPack extends QueryPack {

  // Marker sets for the n-gram/stopword language-ID heuristic and
  // quality scoring. Tiny and broadcast-free: they compile into the
  // expression tree as literals.
  private val stopwords = Seq("the", "a")
  private val techWords = Seq("data", "table", "row", "column", "key", "value")
  private val opsWords  = Seq("join", "merge", "sort", "filter", "scan", "agg")

  /** Per-document Gopher repetition stats over a (doc_id, text) slice —
    * the SINGLE definition backing both the standalone
    * t_gopher_repetition operator and t_pipeline's stage 1 (shared by
    * construction so a threshold tweak cannot desynchronize them).
    * Output: (doc_id, n, dup_token_frac, top_token_frac,
    * top_bigram_frac, keep). */
  private def gopherStats(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val base = w.select(col("doc_id"), size(col("w")).as("n"),
      size(array_distinct(col("w"))).as("nu"))
    val tok = w.select(col("doc_id"), explode(col("w")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
    val bg = w.select(col("doc_id"), explode(expr(
        """transform(slice(w, 1, size(w) - 1),
          |  (x, i) -> concat(x, ' ', element_at(w, i + 2)))""".stripMargin))
        .as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("bmx"), sum(col("c")).as("btot"))
    val dupF = round(lit(1.0) - col("nu") / col("n"), 4)
    val topT = round(col("mx") / col("tot"), 4)
    val topB = round(col("bmx") / col("btot"), 4)
    base.join(tok, "doc_id").join(bg, "doc_id")
      .select(col("doc_id"), col("n"),
        dupF.as("dup_token_frac"),
        topT.as("top_token_frac"),
        topB.as("top_bigram_frac"),
        (dupF <= 0.6 && topT <= 0.12 && topB <= 0.06).as("keep"))
  }

  /** Per-document eval-set contamination stats — the single definition
    * behind t_decontam and t_pipeline's stage 2. Documents with no
    * shingles (under 3 words) are excluded up front: they cannot be
    * contaminated, and the guard keeps the basis-point division away
    * from ANSI DIVIDE_BY_ZERO. Output: (doc_id, n_shingles, n_overlap,
    * overlap_bp, contaminated) for non-eval documents. */
  private def decontamStats(docs: DataFrame, isEval: Column): DataFrame = {
    val sh = docs.select(col("doc_id"),
      explode(graft.expr.ShingleHashes(col("text"), 3)).as("h"))
    val evalH = sh.filter(isEval).select(col("h")).distinct()
    // ONE pass over the train shingles: the per-doc shingle count and
    // the eval-overlap count come out of the SAME aggregation (a left
    // join against the DISTINCT broadcast eval set adds at most one
    // match flag per shingle occurrence, so sum(flag) == the previous
    // left_semi count). The earlier shape computed size(ShingleHashes)
    // and explode(ShingleHashes) as two independent corpus scans —
    // every training document tokenized and hashed TWICE, doubling the
    // dominant per-row CPU at 100 TB. Zero-shingle docs (under 3
    // words) produce no exploded rows and so drop out here exactly as
    // the previous n_shingles > 0 filter did.
    sh.filter(!isEval)
      .join(broadcast(evalH.withColumn("m", lit(1))), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("m"), lit(0))).cast("long").as("n_overlap"))
      .withColumn("overlap_bp", expr("n_overlap * 10000 div n_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        col("overlap_bp"),
        (col("n_overlap") >= 5 || col("overlap_bp") >= 2000)
          .as("contaminated"))
  }

  /** The curation funnel's intermediate frames — ONE construction
    * shared by t_pipeline's census and t_pipeline_write's materialized
    * artifact, so a stage tweak cannot desynchronize the audit path
    * from the write path. Stages (production order): Gopher-repetition
    * quality gate (shared gopherStats) -> eval-trigram decontamination
    * (shared decontamStats) -> exact dedup among survivors (min
    * doc_id) -> per-source token budget in content-fingerprint order
    * (t_budget's rule). `kept` carries (doc_id, source, n_tokens, fp,
    * cum). */
  private case class CurationFunnel(docsRaw: DataFrame, train: DataFrame,
                                    qual: DataFrame, clean: DataFrame,
                                    unique: DataFrame, kept: DataFrame)

  /** Per-source token budget in content-fingerprint order — the ONE
    * budget rule (tokens-per-source cap, deterministic fp ordering)
    * behind both the standalone t_budget operator and curationFunnel's
    * stage 4; the two used to carry hand-copied `2000` literals and
    * window specs a tweak could silently desynchronize. Output:
    * (doc_id, source, n_tokens, fp, cum) for the KEPT documents. */
  /** Greedy sequence packing into fixed token windows — the ONE chunk
    * rule (256-token windows, per-source doc_id order) behind both the
    * standalone t_pack operator and t_pipeline_write's packed-artifact
    * census; previously two hand-copied window specs. Input carries
    * (doc_id, source, text); adds n_tokens, cum, chunk_id. */
  private val PackWindowTokens = 256
  private def packChunks(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk_id",
        floor((col("cum") - col("n_tokens")) / lit(PackWindowTokens.toDouble)))
  }

  private val SourceTokenBudget = 2000L
  private def budgetKept(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = pmod(graft.expr.CharFingerprint(col("text")), lit(1000000))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("fp"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        fp.as("fp"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("cum") - col("n_tokens") < SourceTokenBudget)
  }

  private def curationFunnel(s: SparkSession, dir: String): CurationFunnel = {
    import org.apache.spark.sql.expressions.Window
    val docsRaw = Tables(s, dir, "documents")
    val isEval = col("doc_id") % 10 === 0
    val train = docsRaw.filter(!isEval)
    val qual = gopherStats(train).filter(col("keep")).select(col("doc_id"))
    val contaminated = decontamStats(docsRaw, isEval)
      .filter(col("contaminated")).select(col("doc_id"))
    val clean = qual.join(contaminated, Seq("doc_id"), "left_anti")
    val cleanDocs = train.join(clean, "doc_id")
    val unique = cleanDocs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val kept = budgetKept(cleanDocs.join(unique, "doc_id"))
    CurationFunnel(docsRaw, train, qual, clean, unique, kept)
  }

  /** The materialized curated corpus (MemoPool entry): the funnel's
    * surviving documents written as full-row parquet (the artifact a
    * trainer would consume), so Bench repeats reuse one write. */
  private[queries] def curatedCorpusPath(s: SparkSession, dir: String): String =
    graft.scale.MemoPool.getOrBuild(s, dir, "curatedCorpus") {
      val out = graft.io.TempDirs.create("graft_curated_")
      Tables(s, dir, "documents")
        .join(curationFunnel(s, dir).kept.select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .write.mode("overwrite").parquet(out)
      out
    }(_ => Nil)

  /** (doc_id, q_rank) — t_quality's bucket as an integer rank
    * (low=0, medium=1, high=2), the election key for quality-aware
    * duplicate-representative selection (DedupPack.d_rep_quality).
    * Shared by construction with t_quality's CASE ladder so a
    * threshold tweak cannot desynchronize the two. Pure projection,
    * no shuffle. */
  def qualityRank(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), qualitySignals.tier.as("q_rank"))

  /** The quality FEATURE SET + tier ladder — the ONE definition behind
    * both qualityRank (d_rep_quality's election key) and t_quality's
    * bucket label; the two used to carry hand-copied twins of these
    * thresholds, which a tweak in one place would silently
    * desynchronize (each query stays green against its own oracle, so
    * no red row flags the drift). tier: 0 = low, 1 = medium, 2 = high.
    */
  private case class QualitySignals(n: Column, avgLen: Column,
                                    stopR: Column, shortR: Column,
                                    tier: Column)
  private def qualitySignals: QualitySignals = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val avgLen = expr(
      "aggregate(transform(split(text, ' '), w -> length(w)), 0, (acc, x) -> acc + x)")
      .cast("double") / n
    val stopR = ratioIn(toks, stopwords)
    val shortR = size(filter(toks, w => length(w) <= 2)) / n
    val tier = when(stopR > 0.15 || shortR > 0.2, 0L)
      .when(n.between(20, 200) && avgLen >= 4.0, 2L)
      .otherwise(1L)
    QualitySignals(n, avgLen, stopR, shortR, tier)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens + distinct tokens + a BPE-ish
    // regex token count. Pure projection — scales linearly.
    "t_tokens" -> ((s, dir) => {
      val toks = tokens(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_uniq"),
          size(tokensRegex(col("text"))).as("n_bpeish"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: length/stopword/short-token ratios + a bucket
    // label — the heuristics an LLM-data pipeline uses to drop junk
    // documents before training.
    "t_quality" -> ((s, dir) => {
      val qs = qualitySignals
      Tables(s, dir, "documents")
        .select(col("doc_id"), qs.n.as("n_tokens"),
          round(qs.avgLen, 4).as("avg_word_len"),
          round(qs.stopR, 4).as("stop_ratio"),
          round(qs.shortR, 4).as("short_ratio"),
          // label derived from the SHARED tier column — the ladder
          // thresholds live in exactly one place
          when(qs.tier === 0, "low").when(qs.tier === 2, "high")
            .otherwise("medium").as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID: marker-token relative-frequency heuristic (the
    // classic stopword-profile method, shrunk to the fixture's synthetic
    // vocabulary). Deterministic argmax with explicit tie order.
    "t_langid" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val sStop = ratioIn(toks, stopwords)
      val sTech = ratioIn(toks, techWords)
      val sOps = ratioIn(toks, opsWords)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          round(sStop, 4).as("score_stop"),
          round(sTech, 4).as("score_tech"),
          round(sOps, 4).as("score_ops"),
          when(sStop >= 0.08, "stopword_heavy")
            .when(sTech > sOps, "tech")
            .when(sOps > sTech, "ops")
            .otherwise("mixed").as("guess"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting: position-weighted char fingerprint
    // (order-sensitive, cross-engine-exact) via the codegen'd
    // CharFingerprint expression (HOF-parity spec-asserted) — the
    // cheap first pass of exact dedup.
    "t_fingerprint" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), graft.expr.CharFingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Exact TF-IDF, top-3 terms per document — the oracle-checked
    // relational twin of the MLlib HashingTF+IDF pipeline
    // (graft.text.TfIdf), the same pattern as m1_freq_index for
    // StringIndexer. Shape: explode -> two hash aggs (term freq per
    // doc, doc freq per term) -> broadcast the term-level df (vocab-
    // sized, small by Heaps' law) back onto the doc-term rows -> per-
    // doc top-k window. Ranking uses the ROUNDED score so both
    // engines rank identical values; ties break on the term.
    "t_tfidf" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("w").asc)
      tf.join(broadcast(dfreq), Seq("w"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n").cast("double") / col("df")), 4))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("w"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // Okapi BM25 retrieval scoring (Robertson et al., TREC-3) — the
    // lexical ranking twin of t_tfidf and the text half of hybrid
    // retrieval (s_hybrid_rrf fuses signals of exactly this shape).
    // Query terms are CORPUS-DERIVED (top-3 vocabulary terms by
    // document frequency, df-then-word tie-break) so the query is
    // fixture-drift-proof; scoring is the standard
    // idf * tf(k1+1) / (tf + k1(1-b+b*dlen/avgdl)) with k1=1.2,
    // b=0.75 and the +1 idf variant (always positive). avgdl is
    // total tokens / total docs — well-defined even for empty docs
    // on both engines. Scale shape: tf/df/dlen are the t_tfidf
    // aggregations (map-side combinable; posting lists never
    // materialize as arrays); the 3-term query set, N and token
    // total are k-row broadcasts; the per-term top-5 is a window
    // PARTITIONED by query term (3 bounded partitions here — at a
    // real query-log fan-out the partition count is the query count,
    // and the per-term posting scan is the irreducible retrieval
    // work; scale/TopK's map-side partial top-k is the drop-in when
    // per-term lists outgrow a partition).
    "t_bm25" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val dlen = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dlen"))
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val tt = tok.agg(count(lit(1)).as("tt"))
      val qws = dfreq.orderBy(col("df").desc, col("w").asc).limit(3)
        .select(col("w").as("qw"), col("df"))
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy(col("qw"))
        .orderBy(col("score").desc, col("doc_id").asc)
      tf.join(broadcast(qws), col("w") === col("qw"))
        .join(dlen, "doc_id")
        .crossJoin(broadcast(n)).crossJoin(broadcast(tt))
        .withColumn("idf", log(lit(1.0) +
          (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("score", round(
          col("idf") * (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) +
              lit(0.75) * col("dlen") / (col("tt").cast("double") / col("n")))),
          4))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 5)
        .select(col("qw"), col("rk"), col("doc_id"), col("score"))
        .orderBy(col("qw"), col("rk"))
    }),

    // Gopher-style repetition signals (Rae et al. 2021, table A1,
    // adapted to the fixture's single-line docs): duplicate-token
    // fraction, most-common-token fraction, most-common-bigram
    // fraction, plus the keep/drop decision a quality filter would
    // make. Fractions use max(count)/total — no most-frequent-item
    // tie-break, so both engines agree exactly. Shape: one narrow
    // bigram construction (transform-with-index, no self-join), then
    // two hash aggs keyed by (doc, gram) — the tf-idf shuffle shape;
    // per-doc joins are co-partitioned on doc_id at 100 TB.
    "t_gopher_repetition" -> ((s, dir) => {
      gopherStats(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          col("dup_token_frac"), col("top_token_frac"),
          col("top_bigram_frac"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Cross-document boilerplate detection by shingle document
    // frequency — the corpus-level complement of the per-doc signals
    // above (C4 removes spans occurring in many documents; NeMo
    // Curator's boilerplate filters are the same DF idea). A 3-gram is
    // "boilerplate" when it appears in >= 3 distinct documents; each
    // doc reports its boilerplate coverage.
    //
    // Scale shape (the d_exact lesson applied to shingles): nothing
    // wider than (doc_id, int64 hash) ever shuffles. ShingleHashes
    // emits each doc's DISTINCT trigrams as 64-bit hashes in one
    // codegen pass, so per-doc totals are a plain `size()` projection
    // (zero shuffle); the DF table groups on 8-byte longs
    // (vocabulary-sized, sublinear by Heaps' law); and the coverage
    // count is a left-semi join against only the df>=3 hashes — AQE
    // skew-join splits any hot boilerplate shingle. The string-keyed
    // formulation this replaces shuffled every trigram's bytes twice
    // (groupBy + join) and was the round-2 bench's worst query (12 s
    // of the 79 s total at sf0.1). Hash-vs-string counting differs
    // only on xxhash64 collisions inside the corpus vocabulary
    // (~n^2/2^65 — negligible at any tested SF; the DuckDB oracle
    // still counts exact strings, so a collision would surface as a
    // red row, not pass silently).
    "t_boilerplate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = docs.select(col("doc_id"),
        explode(graft.expr.ShingleHashes(col("text"), 3)).as("h"))
      val boiler = pairs.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 3).select(col("h"), lit(1).as("m"))
      // per-doc totals and boiler-overlap counts from ONE aggregation
      // over the joined shingles (boiler keys are distinct by
      // construction, so the left join adds at most one flag per
      // occurrence) — the earlier shape ran a third corpus scan just
      // to size() the shingle arrays for totals. Two hash passes
      // remain (the global df census, then this), the minimum for a
      // df-threshold definition without persisting the exploded frame.
      val frac = round(col("n_boiler") / col("n_shingles"), 4)
      pairs.join(boiler, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("m"), lit(0))).cast("long").as("n_boiler"))
        .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
          frac.as("boiler_frac"), (frac >= 0.5).as("boilerplate_heavy"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic train/eval split by content fingerprint — the
    // held-out-split operator of a training-data pipeline. Hash-based
    // (NOT rand()): assignment is reproducible across runs, retries,
    // and engines, and documents keep their split when the corpus
    // grows — exactly why production pipelines split on content/URL
    // hashes instead of random numbers.
    "t_split" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          when(pmod(graft.expr.CharFingerprint(col("text")), lit(100)) < 80,
            "train").otherwise("eval").as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("split"))
    }),

    // Sequence packing — the GPT-style concat-and-chunk step that turns
    // a curated corpus into fixed-length training windows. Documents
    // are packed per SOURCE shard in doc_id order; each doc is assigned
    // to the context window containing its first token (floor of the
    // exclusive running token count / window size) — the bookkeeping a
    // packed-sequence loader needs to map windows back to documents.
    // Scale shape: the running sum is a window partitioned by source
    // (never a global single-partition window), then one hash agg on
    // (source, chunk) — both keyed shuffles on small keys; token counts
    // are a pure projection. At 100 TB the shard key is whatever unit
    // the loader shards by; the plan is unchanged.
    "t_pack" -> ((s, dir) => {
      packChunks(Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text")))
        .groupBy(col("source"), col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("chunk_id"))
    }),

    // Cross-document SEGMENT dedup with reassembly — the Dolma-style
    // line-level pass between t_word_dedup (intra-doc) and d_exact
    // (whole-doc): fixed 8-token segments dedup GLOBALLY (first
    // occurrence by (doc_id, start) wins), then each document
    // reassembles from its surviving segments in order. Planted
    // whole-doc dups therefore lose all their segments; partial
    // overlaps lose only the shared spans. Plan: one generator
    // explode, ONE (segment-text) shuffle for the first-occurrence
    // window, one doc-keyed reassembly agg — the segment text rides
    // the first shuffle only (at 100 TB: swap the sort key to a
    // 64-bit segment hash and verify within groups, the d_exact
    // trick). Output is audit-sized: per-doc survivor counts + the
    // reassembled text's position-weighted fingerprint (engine-
    // portable via CharFingerprint / the t_split oracle formula).
    "t_para_dedup" -> ((s, dir) => {
      val seg = 8
      val toks = split(col("text"), " ")
      val segs = Tables(s, dir, "documents")
        .select(col("doc_id"), toks.as("w"))
        .select(col("doc_id"),
          explode(sequence(lit(0), greatest(size(col("w")) - 1, lit(0)),
            lit(seg))).as("start"),
          col("w"))
        .select(col("doc_id"), col("start"),
          array_join(slice(col("w"), col("start") + 1, lit(seg)), " ")
            .as("seg_text"))
      // first occurrence via min(struct): map-side combinable, no
      // per-key sort — a hot boilerplate segment partial-aggregates
      // everywhere instead of sorting in one task (the row_number
      // window formulation's skew hazard at corpus scale)
      val kept = segs
        .groupBy(col("seg_text"))
        .agg(min(struct(col("doc_id"), col("start"))).as("w"))
        .select(col("w.doc_id").as("doc_id"), col("w.start").as("start"),
          col("seg_text"))
      val perDoc = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          graft.expr.CharFingerprint(
            array_join(transform(array_sort(collect_list(
              struct(col("start"), col("seg_text")))), p => p("seg_text")),
              " ")).as("kept_fp"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(sequence(lit(0), greatest(size(toks) - 1, lit(0)), lit(seg)))
            .cast("long").as("n_segs"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_fp"), lit(0L)).as("kept_fp"))
        .orderBy(col("doc_id"))
    }),

    // Overlapping sliding-window chunking — the RAG/long-context
    // complement of t_pack's disjoint packing: stride-48 windows of 64
    // tokens, so consecutive chunks share a 16-token overlap and no
    // boundary sentence is ever split away from both neighbors. Pure
    // generator shape: a sequence() explode per doc — no shuffle at
    // all until the presentation sort; chunk counts scale with token
    // count / stride, embarrassingly parallel at any corpus size.
    "t_chunk" -> ((s, dir) => {
      val win = 64; val stride = 48
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_toks"))
        .select(col("doc_id"), col("n_toks"),
          explode(sequence(lit(0), greatest(col("n_toks") - 1, lit(0)),
            lit(stride))).as("start_tok"))
        .withColumn("chunk_len",
          least(lit(win), col("n_toks") - col("start_tok")).cast("long"))
        .filter(col("chunk_len") > 0)
        .select(col("doc_id"),
          expr(s"start_tok div $stride").cast("long").as("chunk_id"),
          col("start_tok").cast("long").as("start_tok"), col("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Stratified (quota) sampling — language rebalancing by
    // content-hash: downsample the head language to 20%, keep the tail
    // at 80%. Assignment reuses t_split's position-weighted fingerprint
    // (deterministic across runs, retries, and engines — never rand()),
    // so a document's keep/drop fate is a pure function of its text.
    // Pure projection + one hash agg on lang; at 100 TB the quota map
    // comes from a corpus-level language census (a_* aggregations) and
    // the plan is unchanged.
    // EXACT stratified sampling — the curation step t_sample's
    // Bernoulli rates cannot give: a hard total budget (N = 200 docs)
    // split across language strata by proportional largest-remainder
    // allocation (floor quotas, then +1 to the largest remainders
    // until the budget is exact — the apportionment method that
    // cannot overshoot), each stratum filled by deterministic hash
    // rank so reruns select the same docs. Every step is integer.
    // Scale: the whole allocation runs as higher-order-function
    // arithmetic over ONE collected per-stratum array (#strata is
    // bounded — it is the stratification key's domain) — no join of
    // any kind, so the repo-wide no-nested-loop plan invariant holds
    // by construction; selection ranks within lang partitions —
    // quota << stratum, so a 100 TB deployment swaps the per-stratum
    // window for the quota-bounded TopK aggregator (w6) without
    // touching the allocation.
    "t_stratified" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 200
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          pmod(graft.expr.CharFingerprint(col("text")), lit(1000000)).as("fp"))
      val quotas = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
        .agg(collect_list(struct(col("lang"), col("n_s"))).as("cs"))
        .withColumn("tot", expr("aggregate(cs, 0L, (a, x) -> a + x.n_s)"))
        .withColumn("als", expr(
          s"""transform(cs, x -> named_struct(
             |  'lang', x.lang, 'n_s', x.n_s,
             |  'fq', ($budget * x.n_s) div tot,
             |  'rem', ($budget * x.n_s) % tot))""".stripMargin))
        .withColumn("leftover",
          expr(s"$budget - aggregate(als, 0L, (a, x) -> a + x.fq)"))
        .select(explode(expr(
          """transform(als, x -> named_struct(
            |  'lang', x.lang, 'n_s', x.n_s,
            |  'quota', x.fq + if(size(filter(als, y -> y.rem > x.rem
            |      or (y.rem = x.rem and y.lang < x.lang))) < leftover,
            |    1L, 0L)))""".stripMargin)).as("q"))
        .select(col("q.lang").as("lang"), col("q.n_s").as("n_s"),
          col("q.quota").as("quota"))
      val w = Window.partitionBy(col("lang")).orderBy(col("fp"), col("doc_id"))
      docs.withColumn("rn", row_number().over(w))
        .join(broadcast(quotas), "lang")
        .filter(col("rn") <= col("quota"))
        .groupBy(col("lang"), col("n_s").as("n_total"), col("quota"))
        .agg(count(lit(1)).as("n_sel"),
          sum(col("doc_id")).as("sel_id_checksum"))
        .orderBy(col("lang"))
    }),

    "t_sample" -> ((s, dir) => {
      val fp = pmod(graft.expr.CharFingerprint(col("text")), lit(100))
      val quota = when(col("lang") === "en", lit(20)).otherwise(lit(80))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), (fp < quota).as("keep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("keep"), 1)).as("n_kept"),
          sum(when(col("keep"), col("doc_id"))).as("kept_id_checksum"))
        .orderBy(col("lang"))
    }),

    // END-TO-END curation pipeline — the composition a training corpus
    // actually goes through, in the order production pipelines run it:
    // quality filter (Gopher repetition) -> eval-set decontamination ->
    // exact dedup -> per-source token budget. Each stage is an
    // independently-oracle-checked operator above; this query pins
    // their COMPOSITION (stage order and survivor sets) as one
    // auditable census row — the d_pipeline discipline applied to
    // curation. Stage 3 groups on text for the census (the fixture has
    // no exact dups here; d_exact demonstrates the content-hash-
    // grouped scale shape the production stage would use).
    "t_pipeline" -> ((s, dir) => {
      val f = curationFunnel(s, dir)
      f.docsRaw.agg(count(lit(1)).as("n_input"))
        .crossJoin(f.train.agg(count(lit(1)).as("n_train")))
        .crossJoin(f.qual.agg(count(lit(1)).as("n_quality")))
        .crossJoin(f.clean.agg(count(lit(1)).as("n_clean")))
        .crossJoin(f.unique.agg(count(lit(1)).as("n_unique")))
        .crossJoin(f.kept.agg(count(lit(1)).as("n_final"),
          sum(col("n_tokens")).as("tok_final"),
          sum(col("doc_id")).as("kept_id_checksum")))
    }),

    // MATERIALIZED curation run — the WRITE-PATH twin of t_pipeline's
    // census (the ly_*_roundtrip discipline applied to the funnel):
    // the surviving corpus is actually WRITTEN to parquet
    // (curatedCorpusPath — quality -> decontam -> exact-dedup ->
    // budget, full rows), re-read through a fresh scan, and the
    // re-read artifact is packed into 256-token context windows
    // (t_pack's chunk shape) with per-chunk token totals and a
    // position-weighted TEXT fingerprint checksum. The oracle
    // recomputes the identical funnel + pack from the ORIGINAL table,
    // so equality gates (a) the funnel selected exactly the right
    // documents, (b) every surviving row round-tripped the write
    // byte-exactly (the fp checksum re-hashes the re-read text), and
    // (c) the composition works off the audit path — a downstream
    // trainer could read this artifact as-is. Scale shape: the write
    // is one partitioned parquet sink, the re-read pack is one
    // source-keyed window — nothing new beyond the gated stages.
    // NOTE: at sf0.1 the gated answer is legitimately EMPTY — the
    // fixture's closed 31-word vocabulary saturates the eval trigram
    // space at 5k docs, so the (long-green) t_pipeline census itself
    // reports n_clean = 0 there; sf0.01's 22 packed chunks carry the
    // value evidence. A real corpus (open vocabulary) never saturates.
    "t_pipeline_write" -> ((s, dir) => {
      val art = s.read.parquet(curatedCorpusPath(s, dir))
      packChunks(art.select(col("doc_id"), col("source"), col("text")))
        .withColumn("fp",
          pmod(graft.expr.CharFingerprint(col("text")), lit(1000000)))
        .groupBy(col("source"), col("chunk_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          sum(col("fp")).as("fp_checksum"))
        .orderBy(col("source"), col("chunk_id"))
    }),

    // Token-budget subsampling — cap each source at a token budget,
    // not a document quota: greedily keep documents in deterministic
    // content-fingerprint order until the source's running token count
    // crosses the budget (the doc that crosses is kept — bounded
    // overshoot, never a partial document). This is how corpus specs
    // written in tokens ("200B from web, 50B from code") get realized.
    // Scale shape: one keyed shuffle for the per-source window's
    // running sum (never a global window), then a source-keyed rollup;
    // the fingerprint order makes the kept set a pure function of the
    // corpus, stable under retries and engine swaps.
    "t_budget" -> ((s, dir) => {
      budgetKept(Tables(s, dir, "documents"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(col("n_tokens")).as("tokens_kept"),
          sum(col("doc_id")).as("kept_id_checksum"))
        .orderBy(col("source"))
    }),

    // Weighted corpus mixing with epoch oversampling — the step that
    // turns per-source mixture weights into an emitted training
    // corpus: weight 2.5 means every doc appears twice and half the
    // docs a third time; weight 0.5 keeps half the source. The
    // fractional part is decided by the same deterministic content
    // fingerprint as t_split (never rand(): assignment survives
    // retries, reruns, and engine swaps). Scale shape: a pure
    // projection computes the copy count, a generator (explode of a
    // bounded sequence) emits the copies, and one hash agg on the
    // source key summarizes — no shuffle wider than the final
    // per-source rollup; at 100 TB the emitted corpus streams straight
    // to the packer (t_pack) without materializing.
    "t_mix" -> ((s, dir) => {
      val fp = pmod(graft.expr.CharFingerprint(col("text")), lit(100))
      val w = when(col("source").isin("src0", "src1", "src2"), 2.5)
        .when(col("source").isin("src3", "src4"), 0.5)
        .otherwise(1.0)
      val copies = (floor(w) +
        when(fp < (w - floor(w)) * 100, 1).otherwise(0)).cast("int")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          copies.as("n_copies"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          explode(expr(
            "CASE WHEN n_copies >= 1 THEN sequence(1, n_copies) " +
              "ELSE array() END")).as("epoch"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_emitted"),
          countDistinct(col("doc_id")).as("n_docs_kept"),
          sum(col("n_tokens")).as("tok_emitted"),
          sum(col("doc_id") * col("epoch")).as("id_checksum"))
        .orderBy(col("source"))
    }),

    // Eval-set n-gram decontamination — the benchmark-hygiene step a
    // training pipeline runs before a model sees the corpus: any
    // training document sharing word-trigrams with the held-out eval
    // set is flagged (the GPT-3/C4-audit recipe). Eval membership here
    // is the deterministic content split (doc_id % 10 = 0); in
    // production it is the benchmark corpus itself.
    //
    // Scale shape: the eval trigram set is distinct-hashed and TINY
    // relative to the corpus (benchmarks are MBs, the corpus is TBs),
    // so the check is a broadcast left-semi join of 8-byte hashes
    // against each train doc's shingles — one corpus scan, nothing
    // wider than (doc_id, int64) in any exchange, overlap counted by a
    // map-side-combinable hash agg on doc_id. The overlap fraction is
    // emitted in integer basis points (`div` — exact in both engines,
    // no float rounding at the contamination threshold).
    "t_decontam" -> ((s, dir) => {
      decontamStats(Tables(s, dir, "documents"), col("doc_id") % 10 === 0)
        .orderBy(col("doc_id"))
    }),

    // Tokenizer vocabulary build — frequency-ranked token ids with a
    // min-frequency floor, the fit step of any word-level tokenizer
    // (and the shape of a BPE merge-table build: count, rank, assign
    // ids). The corpus-wide token count is one map-side-combinable
    // hash agg; the rank runs AFTER the min-frequency filter over the
    // Heaps'-law-sublinear vocabulary, through scale/GlobalRank's
    // two-level scheme — NEVER an unpartitioned window. The output
    // order here IS the rank order, so the r12 ride exec
    // (RunningSumRide.withGlobalRankSorted) was MEASURED as the rank
    // engine in r13 (oracle-gated): it LOSES (~5 s fixed persist +
    // extra-job cost at sf1) and keeps losing at every reachable tier,
    // because the ranked set is the Heaps-SUBLINEAR vocabulary — a few
    // thousand rows even when the corpus is millions of docs — and the
    // corpus-sized token-count agg upstream dominates regardless.
    // The ride becomes right only when the vocabulary itself is
    // exchange-scale; at that point swap the rank engine (the oracle
    // gate is in place). SCALE.md r13.
    // Order is (freq DESC, token ASC); the rank is ascending, so the
    // sort key is -freq with the token as the total-order tie-break.
    "t_vocab" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= 5)
      graft.scale.GlobalRank
        .withGlobalRank(counts, -col("freq"), col("token"), "id")
        .withColumn("id", col("id") - 1)
        .orderBy(col("id")).limit(100)
    }),

    // LM quality scoring — APPLY the corpus bigram LM to every
    // document (the CCNet/KenLM-filter shape: score each doc by how
    // probable its token transitions are under a reference LM; low
    // scores mark gibberish). The LM here is the corpus's own bigram
    // model (t_bigram_lm's counting pass); per-bigram P(w2|w1) and the
    // per-doc average are integer basis points (`div` — exact in both
    // engines; a float log-prob average would be summation-order-
    // sensitive at the rounding boundary). Scale shape: the LM table
    // is vocabulary^2-bounded (Heaps-sublinear — MBs at 100 TB), so
    // scoring is one corpus bigram projection joined against a
    // broadcastable LM + a doc-keyed hash agg; at 100 TB the LM comes
    // from a held-out reference corpus and the plan is unchanged.
    "t_lm_score" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val docBigrams = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      val c12 = docBigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      val lm = c12.join(c1, "w1")
        .select(col("w1"), col("w2"), expr("c12 * 10000 div c1").as("p_bp"))
      docBigrams.join(broadcast(lm), Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("p_bp")).as("s"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("s div n_bigrams").as("score_bp"))
        .withColumn("keep", col("score_bp") >= 100)
        .orderBy(col("doc_id"))
    }),

    // Bigram LM counting — the canonical MapReduce workload: bigram
    // counts and conditional probabilities P(w2|w1), the KenLM-style
    // counting pass of n-gram language modeling (used in pipelines as
    // a perplexity-proxy quality signal). The denominator reuses the
    // bigram counts (c1 = Σ_w2 c12) instead of re-scanning the corpus,
    // so the whole query is: one narrow bigram projection (zip_with of
    // two slices — no self-join on position), two token-keyed hash
    // aggs, one join on w1 (head-token skew handled by AQE), and a
    // TakeOrderedAndProject top-50. Probabilities in integer basis
    // points (exact in both engines).
    "t_bigram_lm" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val pairs = Tables(s, dir, "documents")
        .select(explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val c12 = pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
      c12.join(c1, Seq("w1"))
        .withColumn("p_bp", expr("c12 * 10000 div c1"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("p_bp"))
        .orderBy(desc("c12"), col("w1"), col("w2")).limit(50)
    }),

    // DSIR — Data Selection via Importance Resampling (Xie et al.
    // 2023): weight every raw document by how much more likely its
    // tokens are under the TARGET distribution (the eval/domain slice,
    // doc_id % 10 = 0 — t_decontam's convention) than under the raw
    // corpus distribution, then keep the top-quota per source. The
    // paper's hashed-n-gram log-ratio sum becomes an add-1-smoothed
    // probability RATIO in integer basis points averaged per token —
    // the t_lm_score move: a float log-prob sum is summation-order-
    // sensitive at the rounding boundary, while the integer lattice is
    // bit-exact on both engines, and resampling only consumes the
    // RANKING of documents, which the monotone-per-token surrogate
    // preserves for the dominant single-token deviations.
    //
    // Overflow bound: probabilities are scaled to 1e8 before the
    // integer divide, so numerators stay <= (c+1)*1e8 — inside int64
    // until a single token exceeds ~9e10 occurrences (a stopword at a
    // ~1e12-token corpus); past that, downscale (c, T) together (the
    // ratio is invariant) or drop the scale to 1e6. greatest(pr, 1)
    // keeps the rare-token divide away from zero at any corpus size.
    //
    // Scale shape: one token projection; ct/cr are token-keyed hash
    // aggs whose output is VOCABULARY-bounded (Heaps-sublinear — MBs
    // at 100 TB), so the importance-weight table broadcasts; scoring
    // is one corpus scan joined against it plus a doc-keyed agg; the
    // per-source top-quota window partitions on source (the t_bm25
    // class — at a real source fan-out scale/TopK's map-side partial
    // top-k is the drop-in). The 1-row totals frame is a scalar
    // broadcast (PlanShapeSpec's t_tfidf allowlist class).
    "t_dsir" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val isT = col("doc_id") % 10 === 0
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), isT.as("is_t"),
          explode(tokens(col("text"))).as("w"))
      val ct = tok.filter(col("is_t"))
        .groupBy(col("w")).agg(count(lit(1)).as("c_t"))
      val cr = tok.filter(!col("is_t"))
        .groupBy(col("w")).agg(count(lit(1)).as("c_r"))
      val totals = tok.agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("tt"),
        sum(when(col("is_t"), 0L).otherwise(1L)).as("tr"),
        countDistinct(col("w")).as("v"))
      val lm = cr.join(ct, Seq("w"), "left")
        .crossJoin(broadcast(totals))
        .select(col("w"), expr(
          """((coalesce(c_t, 0) + 1) * 100000000 div (tt + v)) * 10000
            |  div greatest((c_r + 1) * 100000000 div (tr + v), 1)"""
            .stripMargin).as("lr_bp"))
      val win = Window.partitionBy(col("source"))
        .orderBy(col("imp_bp").desc, col("doc_id").asc)
      tok.filter(!col("is_t"))
        .join(broadcast(lm), Seq("w"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("lr_bp")).as("s"))
        .withColumn("imp_bp", expr("s div n_tokens"))
        .withColumn("rk", row_number().over(win))
        .filter(col("rk") <= 20)
        .select(col("source"), col("rk"), col("doc_id"),
          col("n_tokens"), col("imp_bp"))
        .orderBy(col("source"), col("rk"))
    }),

    // PII redaction — the scrub stage every training corpus runs
    // before release: chained regexp_replace for email / phone / IPv4,
    // plus a per-document redaction count for the audit log. The
    // corpus fixture carries no PII (word-salad text, digit-free), so
    // the query plants three deterministic PII tokens per document
    // (pure functions of doc_id/source, identical in the oracle) and
    // the oracle then checks the REDACTION logic end-to-end: match
    // counting and global replacement. The patterns stay inside the
    // Java-regex/RE2 common subset so both engines compile them
    // identically. Scale: a narrow per-row projection; regexp_replace
    // is codegen'd (StringRegexExpression), no shuffle but the final
    // deterministic ordering.
    "t_redact" -> ((s, dir) => {
      val emailRe = "[a-z0-9._-]+@[a-z0-9.-]+\\.[a-z]{2,4}"
      val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      val raw = concat_ws(" ",
        substring(col("text"), 1, 40), lit("contact"),
        concat(lit("user"), col("doc_id").cast("string"), lit("@"),
          col("source"), lit(".com")),
        lit("tel"),
        concat(lit("555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-"),
          lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0")),
        lit("ip"),
        concat(lit("10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit("."), pmod(col("doc_id") * 3, lit(256)).cast("string")),
        lit("tail"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          (size(regexp_extract_all(col("raw"), lit(emailRe), lit(0))) +
            size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0))) +
            size(regexp_extract_all(col("raw"), lit(ipRe), lit(0))))
            .cast("long").as("n_pii"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>"),
            ipRe, "<IP>").as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // Intra-document dedup — order-preserving first-occurrence dedup
    // of a document's units (CCNet/RefinedWeb drop repeated lines; the
    // fixture's documents are single-line, so words play the unit).
    // Shape: posexplode -> row_number over (doc_id, unit) keeps the
    // first occurrence -> reassemble in original order via
    // array_sort(collect_list(struct(pos, w))). Scale: the window and
    // the regroup both partition by doc_id, so one shuffle keyed on
    // (doc_id) handles both; nothing wider than the document itself
    // moves, and documents stream independently.
    "t_word_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
      val words = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val first = words
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"), col("w")).orderBy(col("pos"))))
        .filter(col("rn") === 1)
      first.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_after"),
          expr("array_join(transform(array_sort(collect_list(struct(pos, w))), x -> x.w), ' ')")
            .as("dedup_text"))
        .join(docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_before")), Seq("doc_id"))
        .select(col("doc_id"), col("n_before"), col("n_after"),
          col("dedup_text"))
        .orderBy(col("doc_id"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "t_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_uniq,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_quality" ->
      """WITH q AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id, len(w) AS n_tokens,
        |    list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w) AS avg_len,
        |    len(list_filter(w, x -> x IN ('the', 'a'))) * 1.0 / len(w) AS stop_r,
        |    len(list_filter(w, x -> len(x) <= 2)) * 1.0 / len(w) AS short_r
        |  FROM q)
        |SELECT doc_id, n_tokens,
        |  round(avg_len, 4) AS avg_word_len,
        |  round(stop_r, 4) AS stop_ratio,
        |  round(short_r, 4) AS short_ratio,
        |  CASE WHEN stop_r > 0.15 OR short_r > 0.2 THEN 'low'
        |       WHEN n_tokens BETWEEN 20 AND 200 AND avg_len >= 4.0 THEN 'high'
        |       ELSE 'medium' END AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "t_langid" ->
      """WITH q AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(w, x -> x IN ('the', 'a'))) * 1.0 / len(w) AS s_stop,
        |    len(list_filter(w, x -> x IN ('data','table','row','column','key','value'))) * 1.0 / len(w) AS s_tech,
        |    len(list_filter(w, x -> x IN ('join','merge','sort','filter','scan','agg'))) * 1.0 / len(w) AS s_ops
        |  FROM q)
        |SELECT doc_id, lang,
        |  round(s_stop, 4) AS score_stop,
        |  round(s_tech, 4) AS score_tech,
        |  round(s_ops, 4) AS score_ops,
        |  CASE WHEN s_stop >= 0.08 THEN 'stopword_heavy'
        |       WHEN s_tech > s_ops THEN 'tech'
        |       WHEN s_ops > s_tech THEN 'ops'
        |       ELSE 'mixed' END AS guess
        |FROM m ORDER BY doc_id""".stripMargin,

    // CAST AS BIGINT: DuckDB list_sum() yields HUGEINT (arrow
    // decimal128), Spark's CharFingerprint emits bigint.
    "t_fingerprint" ->
      """SELECT doc_id,
        |  CAST(list_sum([unicode(text[i]) * i for i in range(1, length(text) + 1)])
        |    % 1000000007 AS BIGINT) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.w,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (w) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, w, tfidf, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, w ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, w, tfidf FROM r
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "t_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY 1),
        |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |tt AS (SELECT count(*) AS tt FROM tok),
        |qws AS (SELECT w AS qw, df FROM dfreq ORDER BY df DESC, w ASC LIMIT 3),
        |scored AS (
        |  SELECT qws.qw, tf.doc_id,
        |    round(
        |      ln(1.0 + (n.n - qws.df + 0.5) / (qws.df + 0.5)) *
        |      (tf.tf * CAST(2.2 AS DOUBLE)) /
        |      (tf.tf + 1.2 * (0.25 +
        |        0.75 * dlen.dlen / (CAST(tt.tt AS DOUBLE) / n.n))),
        |      4) AS score
        |  FROM tf JOIN qws ON tf.w = qws.qw
        |  JOIN dlen USING (doc_id) CROSS JOIN n CROSS JOIN tt),
        |r AS (
        |  SELECT qw, doc_id, score, row_number() OVER (
        |    PARTITION BY qw ORDER BY score DESC, doc_id ASC) AS rk
        |  FROM scored)
        |SELECT qw, rk, doc_id, score FROM r
        |WHERE rk <= 5 ORDER BY qw, rk""".stripMargin,

    "t_gopher_repetition" ->
      """WITH q AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (
        |  SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nu FROM q),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM q),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |tt AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM tc GROUP BY 1),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS b
        |  FROM q),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |bt AS (SELECT doc_id, max(c) AS bmx, sum(c) AS btot FROM bc GROUP BY 1),
        |m AS (
        |  SELECT doc_id, n,
        |    round(1 - nu * 1.0 / n, 4) AS dup_f,
        |    round(mx * 1.0 / tot, 4) AS top_t,
        |    round(bmx * 1.0 / btot, 4) AS top_b
        |  FROM base JOIN tt USING (doc_id) JOIN bt USING (doc_id))
        |SELECT doc_id, n AS n_tokens,
        |  dup_f AS dup_token_frac, top_t AS top_token_frac,
        |  top_b AS top_bigram_frac,
        |  (dup_f <= 0.6 AND top_t <= 0.12 AND top_b <= 0.06) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "t_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                         for i in range(1, greatest(len(w) - 1, 1))]) AS s
        |  FROM w)),
        |dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |m AS (
        |  SELECT sh.doc_id, count(*) AS n_shingles,
        |    count(*) FILTER (dfreq.df >= 3) AS n_boiler
        |  FROM sh JOIN dfreq USING (s) GROUP BY 1)
        |SELECT doc_id, n_shingles, n_boiler,
        |  round(n_boiler * 1.0 / n_shingles, 4) AS boiler_frac,
        |  round(n_boiler * 1.0 / n_shingles, 4) >= 0.5 AS boilerplate_heavy
        |FROM m ORDER BY doc_id""".stripMargin,

    "t_split" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_sum([unicode(text[i]) * i for i in range(1, length(text) + 1)])
        |      % 1000000007 AS fp
        |  FROM documents)
        |SELECT CASE WHEN fp % 100 < 80 THEN 'train' ELSE 'eval' END AS split,
        |  count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "t_pack" ->
      """WITH d AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT source,
        |  CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS chunk_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "t_para_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |seg AS (
        |  SELECT doc_id, s.i AS start,
        |    array_to_string(w[s.i + 1 : s.i + 8], ' ') AS seg_text
        |  FROM d, LATERAL unnest(range(0, greatest(len(w), 1), 8)) AS s(i)),
        |fo AS (
        |  SELECT doc_id, start, seg_text,
        |    row_number() OVER (PARTITION BY seg_text
        |      ORDER BY doc_id, start) AS rn
        |  FROM seg),
        |pd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(seg_text, ' ' ORDER BY start) AS txt
        |  FROM fo WHERE rn = 1 GROUP BY doc_id),
        |fp AS (
        |  SELECT doc_id, n_kept,
        |    list_sum([unicode(txt[i]) * i
        |              for i in range(1, length(txt) + 1)])
        |      % 1000000007 AS kept_fp
        |  FROM pd),
        |ns AS (
        |  SELECT doc_id,
        |    CAST(len(range(0, greatest(len(w), 1), 8)) AS BIGINT) AS n_segs
        |  FROM d)
        |SELECT ns.doc_id, n_segs, CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(kept_fp, 0) AS BIGINT) AS kept_fp
        |FROM ns LEFT JOIN fp USING (doc_id) ORDER BY doc_id""".stripMargin,

    "t_chunk" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents)
        |SELECT doc_id, CAST(s.i // 48 AS BIGINT) AS chunk_id,
        |  CAST(s.i AS BIGINT) AS start_tok,
        |  CAST(least(64, n - s.i) AS BIGINT) AS chunk_len
        |FROM d, LATERAL unnest(range(0, greatest(n, 1), 48)) AS s(i)
        |WHERE n - s.i > 0
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // same fp, same largest-remainder arithmetic, remainder rank as a
    // correlated count — allocation and selection both integer-exact
    "t_stratified" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    list_sum([unicode(text[i]) * i for i in range(1, length(text) + 1)])
        |      % 1000000007 % 1000000 AS fp
        |  FROM documents),
        |c AS (SELECT lang, count(*) AS n_s FROM f GROUP BY 1),
        |t AS (SELECT sum(n_s) AS tot FROM c),
        |alloc AS (
        |  SELECT lang, n_s, (200 * n_s) // tot AS fq, (200 * n_s) % tot AS rem
        |  FROM c, t),
        |rk AS (
        |  SELECT a.lang, a.n_s, a.fq, a.rem,
        |    (SELECT count(*) FROM alloc b
        |     WHERE b.rem > a.rem OR (b.rem = a.rem AND b.lang < a.lang)) AS rk
        |  FROM alloc a),
        |lv AS (SELECT 200 - sum(fq) AS leftover FROM alloc),
        |q AS (
        |  SELECT lang, n_s,
        |    fq + CASE WHEN rk < leftover THEN 1 ELSE 0 END AS quota
        |  FROM rk, lv),
        |sel AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY fp, doc_id) AS rn
        |  FROM f)
        |SELECT q.lang, CAST(q.n_s AS BIGINT) AS n_total,
        |  CAST(q.quota AS BIGINT) AS quota,
        |  CAST(count(*) AS BIGINT) AS n_sel,
        |  CAST(sum(s.doc_id) AS BIGINT) AS sel_id_checksum
        |FROM q JOIN sel s ON s.lang = q.lang AND s.rn <= q.quota
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    "t_sample" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    list_sum([unicode(text[i]) * i for i in range(1, length(text) + 1)])
        |      % 1000000007 % 100 AS fp
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lang,
        |    fp < CASE WHEN lang = 'en' THEN 20 ELSE 80 END AS keep
        |  FROM f)
        |SELECT lang, count(*) AS n_total,
        |  count(*) FILTER (keep) AS n_kept,
        |  CAST(sum(doc_id) FILTER (keep) AS BIGINT) AS kept_id_checksum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "t_pipeline" ->
      """WITH train AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
        |q AS (SELECT doc_id, string_split(text, ' ') AS w FROM train),
        |base AS (
        |  SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nu FROM q),
        |tc AS (
        |  SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS t FROM q) GROUP BY 1, 2),
        |tt AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM tc GROUP BY 1),
        |bgc AS (
        |  SELECT doc_id, b, count(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS b
        |        FROM q) GROUP BY 1, 2),
        |bt AS (SELECT doc_id, max(c) AS bmx, sum(c) AS btot FROM bgc GROUP BY 1),
        |qual AS (
        |  SELECT base.doc_id
        |  FROM base JOIN tt USING (doc_id) JOIN bt USING (doc_id)
        |  WHERE round(1 - nu * 1.0 / n, 4) <= 0.6
        |    AND round(mx * 1.0 / tot, 4) <= 0.12
        |    AND round(bmx * 1.0 / btot, 4) <= 0.06),
        |wall AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                         for i in range(1, greatest(len(w) - 1, 1))]) AS s
        |  FROM wall)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
        |ovl AS (
        |  SELECT sh.doc_id, count(*) AS n_sh, count(ev.s) AS n_ov
        |  FROM sh LEFT JOIN ev ON sh.s = ev.s
        |  WHERE sh.doc_id % 10 <> 0 GROUP BY 1),
        |contam AS (
        |  SELECT doc_id FROM ovl
        |  WHERE n_ov >= 5 OR n_ov * 10000 // n_sh >= 2000),
        |clean AS (
        |  SELECT doc_id FROM qual
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |cleandocs AS (SELECT t.* FROM train t JOIN clean USING (doc_id)),
        |uniq AS (SELECT min(doc_id) AS doc_id FROM cleandocs GROUP BY text),
        |f AS (
        |  SELECT c.doc_id, c.source,
        |    len(string_split(c.text, ' ')) AS n_tokens,
        |    list_sum([unicode(c.text[i]) * i
        |              for i in range(1, length(c.text) + 1)])
        |      % 1000000007 % 1000000 AS fp
        |  FROM cleandocs c JOIN uniq USING (doc_id)),
        |cum AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY fp, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM f),
        |kept AS (SELECT * FROM cum WHERE cum - n_tokens < 2000)
        |SELECT
        |  (SELECT count(*) FROM documents) AS n_input,
        |  (SELECT count(*) FROM train) AS n_train,
        |  (SELECT count(*) FROM qual) AS n_quality,
        |  (SELECT count(*) FROM clean) AS n_clean,
        |  (SELECT count(*) FROM uniq) AS n_unique,
        |  count(*) AS n_final,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_final,
        |  CAST(sum(doc_id) AS BIGINT) AS kept_id_checksum
        |FROM kept""".stripMargin,

    // the identical funnel recomputed from the ORIGINAL table, then
    // t_pack's 256-token chunking in doc_id order — the Spark side
    // reads only the WRITTEN artifact, so equality proves the
    // materialization selected the right rows and round-tripped the
    // text byte-exactly (fp_checksum re-hashes the re-read text)
    "t_pipeline_write" ->
      """WITH train AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
        |q AS (SELECT doc_id, string_split(text, ' ') AS w FROM train),
        |base AS (
        |  SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS nu FROM q),
        |tc AS (
        |  SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS t FROM q) GROUP BY 1, 2),
        |tt AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM tc GROUP BY 1),
        |bgc AS (
        |  SELECT doc_id, b, count(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS b
        |        FROM q) GROUP BY 1, 2),
        |bt AS (SELECT doc_id, max(c) AS bmx, sum(c) AS btot FROM bgc GROUP BY 1),
        |qual AS (
        |  SELECT base.doc_id
        |  FROM base JOIN tt USING (doc_id) JOIN bt USING (doc_id)
        |  WHERE round(1 - nu * 1.0 / n, 4) <= 0.6
        |    AND round(mx * 1.0 / tot, 4) <= 0.12
        |    AND round(bmx * 1.0 / btot, 4) <= 0.06),
        |wall AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                         for i in range(1, greatest(len(w) - 1, 1))]) AS s
        |  FROM wall)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
        |ovl AS (
        |  SELECT sh.doc_id, count(*) AS n_sh, count(ev.s) AS n_ov
        |  FROM sh LEFT JOIN ev ON sh.s = ev.s
        |  WHERE sh.doc_id % 10 <> 0 GROUP BY 1),
        |contam AS (
        |  SELECT doc_id FROM ovl
        |  WHERE n_ov >= 5 OR n_ov * 10000 // n_sh >= 2000),
        |clean AS (
        |  SELECT doc_id FROM qual
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |cleandocs AS (SELECT t.* FROM train t JOIN clean USING (doc_id)),
        |uniq AS (SELECT min(doc_id) AS doc_id FROM cleandocs GROUP BY text),
        |f AS (
        |  SELECT c.doc_id, c.source,
        |    len(string_split(c.text, ' ')) AS n_tokens,
        |    list_sum([unicode(c.text[i]) * i
        |              for i in range(1, length(c.text) + 1)])
        |      % 1000000007 % 1000000 AS fp
        |  FROM cleandocs c JOIN uniq USING (doc_id)),
        |cum AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY fp, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM f),
        |kept AS (SELECT doc_id FROM cum WHERE cum - n_tokens < 2000),
        |art AS (
        |  SELECT d.doc_id, d.source,
        |    len(string_split(d.text, ' ')) AS n_tokens,
        |    list_sum([unicode(d.text[i]) * i
        |              for i in range(1, length(d.text) + 1)])
        |      % 1000000007 % 1000000 AS fp
        |  FROM documents d JOIN kept USING (doc_id)),
        |pk AS (
        |  SELECT doc_id, source, n_tokens, fp,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM art)
        |SELECT source,
        |  CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS chunk_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  CAST(sum(fp) AS BIGINT) AS fp_checksum
        |FROM pk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "t_budget" ->
      """WITH f AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
        |    list_sum([unicode(text[i]) * i for i in range(1, length(text) + 1)])
        |      % 1000000007 % 1000000 AS fp
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY fp, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM f)
        |SELECT source, count(*) AS n_docs_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS kept_id_checksum
        |FROM c WHERE cum - n_tokens < 2000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "t_mix" ->
      """WITH f AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
        |    list_sum([unicode(text[i]) * i for i in range(1, length(text) + 1)])
        |      % 1000000007 % 100 AS fp
        |  FROM documents),
        |w AS (
        |  SELECT *, CASE WHEN source IN ('src0', 'src1', 'src2') THEN 2.5
        |                 WHEN source IN ('src3', 'src4') THEN 0.5
        |                 ELSE 1.0 END AS w
        |  FROM f),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(floor(w) + CASE WHEN fp < (w - floor(w)) * 100
        |                         THEN 1 ELSE 0 END AS INT) AS n_copies
        |  FROM w),
        |e AS (
        |  SELECT doc_id, source, n_tokens,
        |    unnest(generate_series(1, n_copies)) AS epoch
        |  FROM c)
        |SELECT source, count(*) AS n_emitted,
        |  count(DISTINCT doc_id) AS n_docs_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_emitted,
        |  CAST(sum(doc_id * epoch) AS BIGINT) AS id_checksum
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "t_decontam" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, s FROM (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                         for i in range(1, greatest(len(w) - 1, 1))]) AS s
        |  FROM w)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
        |tr AS (
        |  SELECT sh.doc_id, count(*) AS n_shingles, count(ev.s) AS n_overlap
        |  FROM sh LEFT JOIN ev ON sh.s = ev.s
        |  WHERE sh.doc_id % 10 <> 0 GROUP BY 1)
        |SELECT doc_id, n_shingles, n_overlap,
        |  n_overlap * 10000 // n_shingles AS overlap_bp,
        |  (n_overlap >= 5 OR n_overlap * 10000 // n_shingles >= 2000)
        |    AS contaminated
        |FROM tr ORDER BY doc_id""".stripMargin,

    "t_vocab" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (
        |  SELECT token, count(*) AS freq FROM t
        |  WHERE len(token) > 0 GROUP BY 1 HAVING count(*) >= 5)
        |SELECT token, freq,
        |  row_number() OVER (ORDER BY freq DESC, token) - 1 AS id
        |FROM c ORDER BY id LIMIT 100""".stripMargin,

    "t_lm_score" ->
      """WITH q AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        |                         for i in range(1, len(w))]) AS b
        |  FROM q),
        |c12 AS (SELECT b, count(*) AS c12 FROM bg GROUP BY 1),
        |c1 AS (
        |  SELECT split_part(b, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
        |  FROM c12 GROUP BY 1),
        |lm AS (
        |  SELECT b, c12 * 10000 // c1 AS p_bp
        |  FROM c12 JOIN c1 ON split_part(b, ' ', 1) = w1),
        |d AS (
        |  SELECT doc_id, sum(p_bp) AS s, count(*) AS n
        |  FROM bg JOIN lm USING (b) GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
        |  CAST(s // n AS BIGINT) AS score_bp,
        |  s // n >= 100 AS keep
        |FROM d ORDER BY doc_id""".stripMargin,

    "t_bigram_lm" ->
      """WITH q AS (SELECT string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS b
        |  FROM q),
        |c12 AS (
        |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
        |    count(*) AS c12
        |  FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1)
        |SELECT w1, w2, c12, c1, c12 * 10000 // c1 AS p_bp
        |FROM c12 JOIN c1 USING (w1)
        |ORDER BY c12 DESC, w1, w2 LIMIT 50""".stripMargin,

    "t_dsir" ->
      """WITH tok AS (
        |  SELECT doc_id, source, doc_id % 10 = 0 AS is_t,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tt,
        |    CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS tr,
        |    CAST(count(DISTINCT w) AS BIGINT) AS v
        |  FROM tok),
        |ct AS (SELECT w, CAST(count(*) AS BIGINT) AS c_t
        |       FROM tok WHERE is_t GROUP BY 1),
        |cr AS (SELECT w, CAST(count(*) AS BIGINT) AS c_r
        |       FROM tok WHERE NOT is_t GROUP BY 1),
        |lm AS (
        |  SELECT cr.w,
        |    ((coalesce(ct.c_t, 0) + 1) * 100000000 // (tt + v)) * 10000
        |      // greatest((cr.c_r + 1) * 100000000 // (tr + v), 1) AS lr_bp
        |  FROM cr LEFT JOIN ct USING (w) CROSS JOIN tot),
        |d AS (
        |  SELECT t.doc_id, t.source, CAST(count(*) AS BIGINT) AS n_tokens,
        |    sum(lm.lr_bp) AS s
        |  FROM tok t JOIN lm USING (w) WHERE NOT t.is_t GROUP BY 1, 2),
        |r AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(s // n_tokens AS BIGINT) AS imp_bp,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY s // n_tokens DESC, doc_id) AS rk
        |  FROM d)
        |SELECT source, rk, doc_id, n_tokens, imp_bp
        |FROM r WHERE rk <= 20 ORDER BY source, rk""".stripMargin,

    "t_redact" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    concat_ws(' ', substr(text, 1, 40), 'contact',
        |      'user' || doc_id || '@' || source || '.com', 'tel',
        |      '555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |        lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0'),
        |      'ip', '10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256),
        |      'tail') AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9._-]+@[a-z0-9.-]+\.[a-z]{2,4}')) +
        |       len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) +
        |       len(regexp_extract_all(raw, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
        |    AS BIGINT) AS n_pii,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[a-z0-9._-]+@[a-z0-9.-]+\.[a-z]{2,4}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS redacted
        |FROM raw ORDER BY doc_id""".stripMargin,

    "t_word_dedup" ->
      """WITH q AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, unnest([{'pos': i, 'w': ws[i]}
        |                             for i in range(1, len(ws) + 1)]) AS s FROM q),
        |f AS (SELECT doc_id, s.pos AS pos, s.w AS w,
        |        row_number() OVER (PARTITION BY doc_id, s.w ORDER BY s.pos) AS rn
        |      FROM t)
        |SELECT q.doc_id, CAST(len(q.ws) AS BIGINT) AS n_before,
        |  CAST(count(*) AS BIGINT) AS n_after,
        |  string_agg(f.w, ' ' ORDER BY f.pos) AS dedup_text
        |FROM q JOIN f ON q.doc_id = f.doc_id
        |WHERE f.rn = 1
        |GROUP BY q.doc_id, len(q.ws)
        |ORDER BY q.doc_id""".stripMargin
  )
}
