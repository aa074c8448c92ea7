package graft.queries

import graft.functions.{Boilerplate, Bpe, Clusters, Decontam, Dedup, GraftFunctions, Ivf, IvfPq, Multimodal => MM, PHash, Pca, Pq, Similarity, TextFunctions => TF}
import graft.queries.CheckQueries.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators over the documents/embeddings tables:
  * text analysis, dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash),
  * embedding similarity (brute-force + LSH-bucketed ANN).
  *
  * Oracles exist for everything expressible in DuckDB SQL (text stats,
  * quality, exact dedup, exact Jaccard pairs, brute-force kNN); the
  * hash-based operators (xxhash64/simhash signatures, LSH bucketing) are
  * engine-specific → rows-only checks + ScalaTest recall assertions
  * against the exact variants.
  */
object PipelineQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-language corpus stats: token counts (whitespace + BPE-ish regex),
    // char-class ratios. One scan, one small shuffle on lang.
    "text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1L)).as("n_docs"),
             sum(TF.tokenCountWs(col("text")).cast("long")).as("ws_tokens"),
             sum(TF.tokenCountRegex(col("text")).cast("long")).as("re_tokens"),
             round(avg(TF.alphaRatio(col("text"))), 6).as("avg_alpha"),
             round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy("lang")),

    // Corpus-overlap estimation via KMV distinct sketches: the
    // snapshot-N-vs-N−1 question as TWO bounded TakeOrdered jobs (each
    // partition ships ≤ k hashes), never a cross-corpus join. At the
    // oracle SF the union is under k, so the sketches are complete and
    // the estimate is EXACT — DuckDB recomputes the same Jaccard from
    // distinct texts; SketchesSpec covers the saturated ~1/√k regime
    // and layout-independent determinism.
    "pipeline_corpus_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val a = docs.where(col("doc_id") < 400)
      val b = docs.where(col("doc_id") >= 200 && col("doc_id") < 500)
      val (est, kUsed) = graft.functions.Sketches.corpusJaccard(
        a, b, col("text"), col("text"), k = 4096)
      a.agg(countDistinct(col("text")).as("n_a"))
        .crossJoin(b.agg(countDistinct(col("text")).as("n_b")))
        .select(col("n_a"), col("n_b"),
          round(lit(est), 6).as("jaccard"), lit(kUsed.toLong).as("k_used"))
    }),

    // Heavy-hitter vocabulary WITHOUT a key shuffle: count-min sketch
    // (one mergeable-blob pass) + per-partition Misra-Gries candidates
    // (bounded driver union) + driver probe — the skew-proof protocol
    // for 100 TB frequency questions. At this sketch width (eps 1e-4)
    // the token stream cannot collide, so estimates equal exact counts
    // and DuckDB's exact GROUP BY pins the whole path, ranking included
    // (SketchesSpec covers the estimate-error and layout-independence
    // guarantees on adversarially skewed data).
    "text_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents").where(col("text").isNotNull)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .where(col("w") =!= "")
      graft.functions.Sketches.heavyHitters(toks, col("w"), k = 8)
        .select(col("key").as("token"), col("est").as("cnt"))
    }),

    // BPE token counting (Sennrich et al. 2016): merges trained on the
    // corpus itself (one bounded sampling job, deterministic local
    // loop), counting in-scan with the table in the closure. The oracle
    // anchors on DuckDB-recomputable corpus quantities and on engine
    // verdicts that pin the algorithm: every doc's BPE count sits in
    // [ws_tokens, nonspace_bytes] (each word is ≥1 token and merges
    // only shrink the byte sequence), decode∘encode returns every
    // word's exact bytes, and a 50-merge prefix table never beats the
    // full 200-merge table (greedy lowest-rank-first inference replays
    // training order, so more merges are monotonically non-inflating).
    "text_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .where(col("text").isNotNull && trim(col("text")) =!= "")
      val merges = Bpe.train(docs, "text", numMerges = 200)
      val st = Bpe.stats(col("text"), merges)
      val st50 = Bpe.stats(col("text"), merges.take(50))
      val per = docs.select(
        element_at(st, 1).as("bpe"), element_at(st, 2).as("rt"),
        element_at(st50, 1).as("bpe50"),
        TF.tokenCountWs(col("text")).cast("long").as("ws"),
        expr("octet_length(regexp_replace(text, '\\\\s', ''))").cast("long").as("nsb"))
      per.agg(
        count(lit(1L)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("nsb")).as("nonspace_bytes"),
        (count(when(col("bpe") < col("ws") || col("bpe") > col("nsb"), 1)) === 0)
          .as("bounds_ok"),
        (count(when(col("rt") === 0, 1)) === 0).as("roundtrip_ok"),
        (count(when(col("bpe") > col("bpe50"), 1)) === 0).as("monotone_ok"),
        // the synthetic corpus's small vocabulary SATURATES the trainer
        // (every sampled word collapses to one token before 200 merges —
        // measured 89 at sf0.01), which is correct early-stopping, so the
        // verdict is non-emptiness, not an exact merge count
        lit(merges.pairs.nonEmpty && merges.pairs.length <= 200).as("learned_ok"))
    }),

    // Persistable tokenizer artifact: train BPE on the English corpus,
    // save the merge table to parquet, load it back, and tokenize the
    // NON-English batch with the loaded artifact — budgets must be
    // byte-identical between the trained and round-tripped tokenizer
    // (a token budget that drifts between runs is not a budget).
    "text_bpe_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.where(col("lang") === "en" && col("text").isNotNull)
      val batch = docs.where(col("lang") =!= "en" && col("text").isNotNull &&
        trim(col("text")) =!= "")
      val trained = Bpe.train(ref, "text", numMerges = 150)
      val dirKey = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val path = s"/root/repo/target/fixtures/$dirKey/bpe_merges"
      Bpe.saveMerges(s, trained, path)
      val loaded = Bpe.loadMerges(s, path)
      val per = batch.select(
        Bpe.tokenCount(col("text"), trained).as("bpe_t"),
        Bpe.tokenCount(col("text"), loaded).as("bpe_l"),
        TF.tokenCountWs(col("text")).cast("long").as("ws"),
        expr("octet_length(regexp_replace(text, '\\\\s', ''))").cast("long").as("nsb"))
      per.agg(
        count(lit(1L)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("nsb")).as("nonspace_bytes"),
        (count(when(col("bpe_t") =!= col("bpe_l"), 1)) === 0).as("roundtrip_identical"),
        (count(when(col("bpe_l") < col("ws") || col("bpe_l") > col("nsb"), 1)) === 0)
          .as("bounds_ok"),
        lit(trained.pairs.nonEmpty).as("learned_ok"))
    }),

    // Model-based quality filtering (fastText-style hashed-ngram logistic
    // model — the DCLM/FineWeb-Edu curation step). Planted two-class
    // setup: real documents (label 1) vs their character-reversed texts
    // (label 0, deterministic gibberish with an almost-disjoint token
    // set); split train/test by the SAME md5 bucket rule as
    // pipeline_split keyed on the ORIGINAL doc_id, so both versions of a
    // document land on the same side (no leakage). Training is bounded
    // (labeled set only); scoring is one in-scan projection. The oracle
    // recomputes the split sizes from the md5 rule; the accuracy and
    // separation verdicts are the engine's booleans, which must be true.
    "pipeline_quality_clf" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val labeled = docs.select(col("doc_id"), col("text"), lit(1.0).as("label"))
        .union(docs.select(col("doc_id") + 1000000L,
          reverse(col("text")), lit(0.0)))
      val isTrain =
        graft.ops.DataPrep.hashBucket(col("doc_id") % 1000000L, 1000) < 800
      // 20 L-BFGS iterations separate the planted classes with a wide
      // margin (verdict thresholds unchanged); 50 bought nothing but
      // bench seconds — each iteration is a full treeAggregate pass
      val model = graft.functions.QualityClassifier.train(
        labeled.where(isTrain), "text", "label",
        numFeatures = 1 << 16, maxIter = 20)
      val held = model.score(labeled.where(!isTrain), "text")
      held.agg(
        count(lit(1L)).as("n_test"),
        (avg(when((col("quality_score") >= 0.5) === (col("label") === 1.0), 1.0)
          .otherwise(0.0)) >= 0.95).as("acc_ok"),
        (avg(when(col("label") === 1.0, col("quality_score"))) -
          avg(when(col("label") === 0.0, col("quality_score"))) >= 0.8)
          .as("sep_ok"))
        .crossJoin(labeled.where(isTrain).agg(count(lit(1L)).as("n_train")))
    }),

    // Per-source quality scoring (composite heuristic + components).
    "text_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(round(avg(TF.qualityScore(col("text"))), 6).as("avg_quality"),
             round(avg(TF.avgTokenLength(col("text"))), 6).as("avg_tok_len"),
             round(avg(TF.digitRatio(col("text"))), 6).as("avg_digit"))
        .orderBy("source")),

    // Language-ID heuristic vs the labeled lang column (confusion counts).
    // Deterministic stopword counting → full DuckDB oracle; accuracy is
    // additionally asserted in ScalaTest on planted natural-language
    // texts, and the native expression is asserted equal to the
    // Column-composition TextFunctions.langId.
    "text_langid" -> ((s, dir) => {
      GraftFunctions.register(s)
      t(s, dir, "documents")
        .groupBy(col("lang"), GraftFunctions.langId(col("text")).as("predicted"))
        .agg(count(lit(1L)).as("n"))
        .orderBy("lang", "predicted")
    }),

    // Repetition filters (Gopher-style quality signals): duplicate-line
    // fraction, duplicate-line CHARACTER fraction (over width-8 token
    // lines) and top-bigram fraction, per document. A third of the slice
    // gets its text doubled so real repetition is planted — the engine
    // must measure it, the oracle mirrors the same construction. Line
    // metrics are in-scan Column algebra; the n-gram mode is an explode →
    // partial-agg groupBy on (doc, gram) — never a per-row O(tokens²) pass.
    "text_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 30)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat_ws(" ", col("text"), col("text")))
            .otherwise(col("text")).as("text"))
      TF.repetitionStats(docs, "doc_id", "text", lineWidth = 8, n = 2)
        .select(col("doc_id"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("top_ngram_frac"), 6).as("top_ngram_frac"))
        .orderBy("doc_id")
    }),

    // PII scrubbing: per-source match counts per class (email / phone /
    // IPv4 planted deterministically by doc_id) and the total byte delta
    // of the redacted corpus. Pure regexp Column algebra inside the scan;
    // the oracle runs the same RE2-compatible patterns in DuckDB.
    "text_pii" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" call +1 555 867 5309")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit(" from 192.168.1.7")).otherwise(lit("")))
          .as("text"))
      aug.select(col("source"), TF.piiCounts(col("text")).as("pii"),
          (length(col("text")) - length(TF.redactPii(col("text")))).as("delta"))
        .groupBy("source")
        .agg(sum(col("pii.emails")).cast("long").as("n_emails"),
             sum(col("pii.phones")).cast("long").as("n_phones"),
             sum(col("pii.ipv4s")).cast("long").as("n_ipv4s"),
             sum(col("delta")).cast("long").as("redacted_delta"))
        .orderBy("source")
    }),

    // Markup cleaning: HTML planted on half the corpus (plus a control
    // char) must be stripped and whitespace-normalized; per-source char
    // counts before/after prove the cleaning. Pure in-scan regex algebra.
    "text_clean" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<p class=\"x\"> "), col("text"), lit(" </p>"),
            lit("\u0007"), lit("<br/>")))
          .otherwise(col("text")).as("text"))
      aug.select(col("source"), col("text"), TF.cleanText(col("text")).as("clean"))
        .groupBy("source")
        .agg(count(lit(1L)).as("n_docs"),
             sum(length(col("text"))).cast("long").as("raw_chars"),
             sum(length(col("clean"))).cast("long").as("clean_chars"),
             sum(when(col("clean") =!= col("text"), 1L).otherwise(0L))
               .cast("long").as("n_changed"))
        .orderBy("source")
    }),

    // CCNet-style unigram LM quality score: every document scored by the
    // corpus's own top-500 unigram distribution (OOV floored at count 1),
    // summarized per source. Counting is one token shuffle; the vocab is
    // broadcast; the corpus never shuffles for scoring.
    "text_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scores = TF.unigramLmScores(docs, "doc_id", "text", topV = 500)
      docs.select(col("doc_id"), col("source")).join(scores, "doc_id")
        .groupBy("source")
        .agg(round(avg(col("lm_logprob")), 6).as("avg_lm"),
             sum(col("n_oov")).cast("long").as("n_oov"),
             sum(col("n_toks")).cast("long").as("n_toks"))
        .orderBy("source")
    }),

    // Interpolated bigram LM (Jelinek–Mercer): per-source mean of
    // per-doc mean ln P over bigram positions, plus unseen-bigram
    // accounting. Count tables broadcast; one corpus scan + one id-keyed
    // shuffle.
    "text_lm_bigram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scores = TF.bigramLmScores(docs, "doc_id", "text",
        lambda = 0.75, topV = 2000)
      docs.select(col("doc_id"), col("source")).join(scores, "doc_id")
        .groupBy("source")
        .agg(round(avg(col("lm2_logprob")), 6).as("avg_lm2"),
          sum(col("n_unseen_bigrams")).cast("long").as("n_unseen"),
          sum(col("n_bigrams")).cast("long").as("n_bigrams"))
        .orderBy("source")
    }),

    // Token-budget truncation: cut each document to its first 64
    // whitespace tokens; per-source token/char totals before and after.
    // Pure in-scan Column algebra (the engine re-tokenizes its own
    // truncated output — proving the round trip).
    "text_truncate" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("text"),
        TF.truncateTokens(col("text"), 64).as("cut"))
      d.groupBy("source")
        .agg(sum(TF.tokenCountWs(col("text")).cast("long")).as("toks_before"),
             sum(TF.tokenCountWs(col("cut")).cast("long")).as("toks_after"),
             sum(length(col("cut"))).cast("long").as("chars_after"),
             sum(when(col("cut") =!= col("text"), 1L).otherwise(0L))
               .cast("long").as("n_cut"))
        .orderBy("source")
    }),

    // Gopher filter rules over the corpus: per-source pass counts and
    // per-rule failure tallies (the published word-level subset). A
    // planted degenerate doc per 25 (text replaced by '#' runs) must
    // fail the symbol/alpha/stopword rules — the filter has to catch it.
    "text_gopher" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 25 === 0,
          concat_ws(" ", array_repeat(lit("###"), 60)))
          .otherwise(col("text")).as("text"))
      aug.select(col("source"), TF.gopherFlags(col("text"), minWords = 20).as("g"))
        .groupBy("source")
        .agg(count(lit(1L)).as("n_docs"),
             sum(when(col("g.pass"), 1L).otherwise(0L)).cast("long").as("n_pass"),
             sum(when(!col("g.words_ok"), 1L).otherwise(0L)).cast("long").as("f_words"),
             sum(when(!col("g.mean_len_ok"), 1L).otherwise(0L)).cast("long").as("f_len"),
             sum(when(!col("g.symbol_ok"), 1L).otherwise(0L)).cast("long").as("f_symbol"),
             sum(when(!col("g.alpha_ok"), 1L).otherwise(0L)).cast("long").as("f_alpha"),
             sum(when(!col("g.stopword_ok"), 1L).otherwise(0L)).cast("long").as("f_stop"))
        .orderBy("source")
    }),

    // CCNet-style perplexity bucketing: documents split into head /
    // middle / tail thirds by unigram-LM score (head = most fluent),
    // the standard quality partition before mixing, via the engine API
    // DataPrep.bucketByQuantiles. The API's DEFAULT path is
    // approx_percentile (mergeable sketch — the 100 TB route,
    // plan-asserted in PlanSpec); `exact = true` here is the
    // oracle-audit override so the tertiles of the 6dp-rounded scores
    // match DuckDB's quantile_cont bit-for-bit (rounding first makes
    // the threshold compare engine-exact).
    "pipeline_ppl_buckets" -> ((s, dir) => {
      val scores = TF.unigramLmScores(t(s, dir, "documents"), "doc_id", "text", topV = 500)
        .withColumn("lm_r", round(col("lm_logprob"), 6))
      graft.ops.DataPrep.bucketByQuantiles(scores, col("lm_r"),
          splits = Seq(1.0 / 3.0, 2.0 / 3.0),
          names = Seq("tail", "middle", "head"), exact = true)
        .groupBy("bucket")
        .agg(count(lit(1L)).as("n_docs"),
             round(avg(col("lm_r")), 6).as("avg_lm"),
             sum(col("n_toks")).cast("long").as("n_toks"))
        .orderBy("bucket")
    }),

    // TF-IDF keyword extraction: top-3 characteristic terms per document
    // (corpus-wide idf), emitted for the doc_id<20 audit slice with a
    // deterministic 6-dp score + term tie-break. The tf⋈df join is a
    // term-keyed shuffle; the top-k is a WindowGroupLimit.
    "text_tfidf" -> ((s, dir) =>
      TF.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .where(col("doc_id") < 20)
        .orderBy("doc_id", "rank")),

    // Document fingerprints: exact content hash + winnowing min-gram hash.
    // The raw 64-bit values are engine-specific, so the oracle-checked
    // surface is their PROPERTIES, verified in-engine: the content hash
    // must be injective over this corpus (distinct hashes == distinct
    // texts — a collision would break every hash-keyed dedup) and the
    // min-gram fingerprint must be a pure function of the text (equal
    // texts always agree). n_docs / n_distinct_text anchor the row to
    // DuckDB-computable exact values.
    "text_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
                TF.contentHash(col("text")).as("ch"),
                TF.minGramFingerprint(col("text"), 8).as("fp"))
        .agg(count(lit(1L)).as("n_docs"),
             countDistinct(col("text")).as("n_distinct_text"),
             (countDistinct(col("ch")) === countDistinct(col("text")))
               .as("content_fp_injective_ok"),
             (countDistinct(col("text")) === countDistinct(col("text"), col("fp")))
               .as("mingram_consistent_ok"))),

    // Exact dedup summary (md5 here for oracle parity; the engine API
    // Dedup.exactDupGroups uses xxhash64 and is covered by ScalaTest).
    "dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.agg(count(lit(1L)).as("total"),
               countDistinct(md5(col("text"))).as("n_distinct"))
        .crossJoin(
          docs.groupBy(md5(col("text"))).agg(count(lit(1L)).as("n"))
            .where(col("n") > 1).agg(count(lit(1L)).as("n_dup_groups")))
    }),

    // Exact char-5-gram Jaccard near-dup pairs at tau=0.51 via AllPairs
    // prefix filtering — equi-join candidate generation (no cartesian),
    // provably zero false negatives, exact-intersect verify. Restricted to
    // doc_id < 1000 (the exact-audit slice); the estimated scale path is
    // dedup_minhash.
    "dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardNearDupPairs(
          t(s, dir, "documents").where(col("doc_id") < 1000),
          "doc_id", "text", shingleK = 5, tauPct = 51)
        .orderBy("id_a", "id_b")),

    // Reciprocal-rank fusion of two bounded top-50 rankings (BM25
    // lexical ⊕ a length prior standing in for any second scorer):
    // rank-based combination, no score calibration. Both rankings are
    // TakeOrdered top-k lists BEFORE rank assignment, so the global
    // row_number windows only ever see 50 rows.
    "text_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val top1 = TF.bm25Scores(docs, "doc_id", "text",
          Seq("spark", "join", "query"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      val top2 = docs.select("doc_id", "n_chars")
        .orderBy(col("n_chars").desc, col("doc_id")).limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n_chars").desc, col("doc_id"))))
      graft.ops.Analytics.reciprocalRankFusion(Seq(top1, top2), "doc_id", "rank")
        .orderBy(col("rrf").desc, col("doc_id")).limit(15)
    }),

    // Normalization-fold dedup: case/punctuation/whitespace variants
    // fold to one group — the cheap tier between byte-exact hashing
    // and MinHash. Planted variants are uppercased with punctuation
    // noise; the oracle restates the fold on the normalized STRING
    // (the engine groups by its 64-bit hash — collision-free here).
    "dedup_normalized" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val variants = docs.where(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(upper(col("text")), lit("  !!! ")).as("text"))
      Dedup.normalizedDupGroups(docs.unionByName(variants), "doc_id", "text")
        .agg(count(lit(1L)).as("n_groups"),
          sum("n").as("n_members"),
          sum("keep_id").as("sum_keep_id"),
          (count(when(col("n") < 2, 1)) === 0).as("all_multi"))
    }),

    // Per-group heavy hitters: top-5 words per language with EXACT
    // counts — per-partition per-group Misra–Gries candidates,
    // broadcast semi-join, one candidate-only count, WindowGroupLimit.
    // At the oracle's vocabulary size the capacity captures every
    // term, so the result must EQUAL the exact per-group top-5.
    "text_heavy_per_lang" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
      graft.functions.Sketches.heavyHittersPerGroup(
        words, col("lang"), col("w"), k = 5, mgCapacity = 1024)
    }),

    // Character-entropy quality signal per source — the
    // compressibility gibberish gate (near-0 degenerate repeats,
    // ~log2(alphabet) encoded noise, mid-range natural language).
    "text_entropy" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), TF.charEntropy(col("text")).as("h"))
        .groupBy("source")
        .agg(count(lit(1L)).as("n_docs"),
          round(avg(col("h")), 6).as("avg_entropy"),
          round(min(col("h")), 6).as("min_entropy"),
          round(max(col("h")), 6).as("max_entropy"))
        .orderBy("source")),

    // Unicode normalization (native expression): combining-mark vs
    // precomposed spellings converge under NFC, and the accent-strip +
    // casefold canonical form — verified against DuckDB's own
    // nfc_normalize/strip_accents over identical chr()-built strings.
    "text_normalize" -> ((s, dir) => {
      val planted = s.createDataFrame(Seq(
        (1L, "Café"), (2L, "Café"),
        (3L, "Ångström"), (4L, "MIXED Case")))
        .toDF("id", "s")
      planted.select(col("id"),
        length(col("s")).as("raw_len"),
        GraftFunctions.normalizeText(col("s")).as("nfc"),
        length(GraftFunctions.normalizeText(col("s"))).as("nfc_len"),
        GraftFunctions.normalizeText(col("s"), "NFC",
          stripAccents = true, caseFold = true).as("folded"))
        .orderBy("id")
    }),

    // Code-vs-prose routing signals over planted code (Python-style
    // indentation, C-style punctuation) and prose — densities,
    // indentation fraction, keyword hits, and the routing verdict.
    "text_code_detect" -> ((s, dir) => {
      val planted = s.createDataFrame(Seq(
        (9000001L, "def main(args):\n  x = compute(args)\n  return x\n"),
        (9000002L, "public static void main(String[] args) { int x = 1; x += 2; System.out.println(x); }"),
        (9000003L, "The quiet afternoon passed without incident, and nobody returned before dusk.")))
        .toDF("doc_id", "text")
      t(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 15).union(planted)
        .select(col("doc_id"), TF.codeSignals(col("text")).as("cs"))
        .select(col("doc_id"), col("cs.semi_density").as("semi_density"),
          col("cs.brace_density").as("brace_density"),
          col("cs.indent_fraction").as("indent_fraction"),
          col("cs.kw_count").as("kw_count"), col("cs.is_code").as("is_code"))
        .orderBy("doc_id")
    }),

    // Vocabulary richness per source: type-token ratio + hapax share
    // (the lexical-diversity corpus signal; template/boilerplate
    // sources show low TTR and low hapax) — one (source, term) count
    // rollup, everything else folds from it.
    "text_vocab_richness" -> ((s, dir) => {
      val tc = t(s, dir, "documents")
        .select(col("source"),
          explode(TF.tokensWs(lower(col("text")))).as("term"))
        .groupBy("source", "term").agg(count(lit(1L)).as("n"))
      tc.groupBy("source")
        .agg(sum(col("n")).as("n_tokens"),
          count(lit(1L)).as("n_types"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          round(col("n_types") / col("n_tokens"), 6).as("ttr"),
          round(col("n_hapax") / col("n_types"), 6).as("hapax_ratio"))
        .orderBy("source")
    }),

    // Flesch–Kincaid readability (vowel-group syllable proxy — the
    // same RE2 regex runs on both engines): planted graded sentences +
    // a real-corpus slice, per-doc grades.
    "text_readability" -> ((s, dir) => {
      val planted = s.createDataFrame(Seq(
        (9000001L, "The cat sat on the mat."),
        (9000002L, "Considerable organizational complexity accompanies sophisticated internationalization infrastructure."),
        (9000003L, "Short. Sharp. Clear."))).toDF("doc_id", "text")
      t(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 20).union(planted)
        .select(col("doc_id"), TF.readabilityStats(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.n_sentences").as("n_sentences"),
          col("r.n_words").as("n_words"),
          col("r.n_syllables").as("n_syllables"),
          col("r.fk_grade").as("fk_grade"))
        .orderBy("doc_id")
    }),

    // Sentence segmentation stats (RE2-safe split, no lookbehind):
    // planted multi-sentence docs with known shapes + a real-corpus
    // slice; the readability-signal half (avg/max sentence length).
    "text_sentences" -> ((s, dir) => {
      val planted = s.createDataFrame(Seq(
        (9000001L, "One two. Three four five! Six?"),
        (9000002L, "No terminal punctuation here"),
        (9000003L, "Trailing spaces after stop.   Next one."),
        (9000004L, "Multi!!! Bang?? Ok."))).toDF("doc_id", "text")
      t(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 30).union(planted)
        .select(col("doc_id"), TF.sentenceStats(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n_sentences").as("n_sentences"),
          col("st.avg_sentence_tokens").as("avg_sentence_tokens"),
          col("st.max_sentence_tokens").as("max_sentence_tokens"))
        .orderBy("doc_id")
    }),

    // C4-style line filtering over synthesized multi-line docs: each
    // corpus doc (id < 40) becomes seven lines — keepable sentences, a
    // banned-term line, a too-short line, an unterminated tail — with
    // lorem-ipsum / curly-brace doc-level drops planted on the mod-7 /
    // mod-11 residues (doc 0 exercises the priority order). Map-only
    // line algebra; the oracle restates the construction and every
    // rule in DuckDB lambda algebra.
    "text_c4_filter" -> ((s, dir) => {
      val aug = t(s, dir, "documents").where(col("doc_id") < 40)
        .select(col("doc_id"), concat_ws("\n",
          concat(substring(col("text"), 1, 80), lit(".")),
          lit("Enable JavaScript to view this site."),
          lit("Short line."),
          concat(substring(col("text"), 81, 80), lit("!")),
          substring(col("text"), 161, 40),
          when(col("doc_id") % 7 === 0, lit("lorem ipsum dolor sit amet."))
            .otherwise(lit("A perfectly ordinary closing sentence here.")),
          when(col("doc_id") % 11 === 0, lit("function f() { return 1; }"))
            .otherwise(lit("Nothing to see in this line honestly."))
        ).as("text"))
      TF.c4LineFilter(aug, "doc_id", "text",
          minLineWords = 5, minKeptLines = 3)
        .orderBy("doc_id")
    }),

    // Payment-card PII with the Luhn checksum: planted valid / invalid
    // / spaced / dashed candidates beside a digit-free corpus slice.
    // Candidate regexes avoid lookarounds (same meaning under Java and
    // RE2); the checksum restates digit-for-digit in DuckDB lambdas.
    "text_cc_luhn" -> ((s, dir) => {
      val planted = s.createDataFrame(Seq(
        (9000001L, "Pay with 4111111111111111 today"),
        (9000002L, "Spaced 4111 1111 1111 1111 and dashed 5500-0000-0000-0004"),
        (9000003L, "Not a card: 1234567890123456 nor 12345"),
        (9000004L, "Amex 378282246310005 inline"))).toDF("doc_id", "text")
      t(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 30).union(planted)
        .select(col("doc_id"), TF.creditCardStats(col("text")).as("cc"))
        .select(col("doc_id"), col("cc.n_candidates").as("n_candidates"),
          col("cc.n_luhn_valid").as("n_luhn_valid"),
          col("cc.has_valid_cc").as("has_valid_cc"))
        .orderBy("doc_id")
    }),

    // Encoding-damage tripwire: planted double-decoded artifacts,
    // replacement chars, and a control char beside clean corpus docs.
    // Pure occurrence counting — identical regexes both engines.
    "text_mojibake" -> ((s, dir) => {
      val planted = s.createDataFrame(Seq(
        (9000001L, "cafÃ© arrives twice: cafÃ©"),
        (9000002L, "itâ€™s a smart quote plus stray Â sign"),
        (9000003L, "hard loss: \uFFFD\uFFFD and a bell \u0007 char"),
        (9000004L, "perfectly clean ascii text"))).toDF("doc_id", "text")
      t(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 30).union(planted)
        .select(col("doc_id"), TF.mojibakeStats(col("text")).as("m"))
        .select(col("doc_id"), col("m.n_artifacts").as("n_artifacts"),
          col("m.n_replacement").as("n_replacement"),
          col("m.n_control").as("n_control"),
          col("m.suspect").as("suspect"))
        .orderBy("doc_id")
    }),

    // Unicode script routing: planted Cyrillic / CJK+kana / Hangul /
    // Arabic docs beside the all-Latin corpus slice; counts ride
    // explicit code-point ranges so both engines mean the same class.
    "text_scripts" -> ((s, dir) => {
      val planted = s.createDataFrame(Seq(
        (9000001L, "Привет мир от Spark"),
        (9000002L, "機械学習モデルのデータ"),
        (9000003L, "안녕하세요 세계 hello"),
        (9000004L, "مرحبا بالعالم"))).toDF("doc_id", "text")
      t(s, dir, "documents").select("doc_id", "text")
        .where(col("doc_id") < 30).union(planted)
        .select(col("doc_id"), TF.scriptMix(col("text")).as("sc"))
        .select(col("doc_id"), col("sc.n_latin").as("n_latin"),
          col("sc.n_cyrillic").as("n_cyrillic"),
          col("sc.n_arabic").as("n_arabic"), col("sc.n_cjk").as("n_cjk"),
          col("sc.n_kana").as("n_kana"), col("sc.n_hangul").as("n_hangul"),
          col("sc.dominant_script").as("dominant_script"))
        .orderBy("doc_id")
    }),

    // Heaps'-law vocabulary growth across 8 pseudo-crawl shards, over
    // word TRIGRAMS (the synthetic corpus has a closed ~31-word
    // unigram vocabulary — saturated on shard one; the trigram space
    // actually grows): first-appearance rollup (gram-space-bounded),
    // cumulative windows and the log-log OLS on the 8-row shard table.
    "text_heaps" -> ((s, dir) =>
      TF.heapsFit(t(s, dir, "documents"), col("doc_id") % 8, "text",
        gramN = 3)),

    // Distinct-n diversity per source for n = 1..3: gram-hash-keyed
    // exchanges only; the oracle counts distinct gram STRINGS (hash
    // collisions at this cardinality: none).
    "text_distinct_n" -> ((s, dir) =>
      TF.ngramDiversity(t(s, dir, "documents"), "source", "text")
        .select(col("grp").as("source"), col("n"), col("n_grams"),
          col("n_distinct"), col("distinct_ratio"))
        .orderBy("source", "n")),

    // SFT conversation audit: documents synthesize into alternating
    // user/assistant turn arrays (one word per turn) with a planted
    // same-role violation in every 13th conversation; the audit's
    // verdict counts must match the planting rule arithmetic.
    "pipeline_sft_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words = filter(split(col("text"), " "), w => length(w) > 0)
      val turns = transform(words, (w, i) => struct(
        when(col("doc_id") % 13 === 0 && i === 1, lit("user"))
          .otherwise(when(i % 2 === 0, lit("user")).otherwise(lit("assistant")))
          .as("role"),
        w.as("content")))
      TF.sftAudit(docs.select(col("doc_id"), turns.as("turns")),
          "doc_id", "turns", maxTurns = 40)
        .agg(count(lit(1L)).as("n_convs"),
          sum(when(col("n_turns") === 0, 1L).otherwise(0L)).as("n_empty"),
          sum(when(!col("starts_ok") && col("n_turns") > 0, 1L)
            .otherwise(0L)).as("n_not_user_start"),
          sum(when(!col("alternates_ok"), 1L).otherwise(0L))
            .as("n_bad_alternation"),
          sum(col("n_blank_turns")).cast("long").as("n_blank"),
          sum(when(col("over_budget"), 1L).otherwise(0L)).as("n_over_budget"),
          sum(col("n_turns")).cast("long").as("total_turns"))
    }),

    // Temporal split with embargo: train strictly before the cutoff,
    // test strictly after cutoff+embargo, the band between excluded —
    // per-split counts/extents with in-row boundary verdicts.
    "pipeline_time_split" -> ((s, dir) => {
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val emb = cut + expr("INTERVAL 2 DAYS")
      graft.ops.DataPrep.timeSplit(t(s, dir, "events"), col("ts"),
          "2024-01-15 00:00:00", "2 DAYS")
        .groupBy("split")
        .agg(count(lit(1L)).as("n"),
          unix_timestamp(min(col("ts"))).as("min_ts"),
          unix_timestamp(max(col("ts"))).as("max_ts"))
        .select(col("split"), col("n"), col("min_ts"), col("max_ts"),
          when(col("split") === "train",
              col("max_ts") < unix_timestamp(cut))
            .when(col("split") === "test",
              col("min_ts") >= unix_timestamp(emb))
            .otherwise(col("min_ts") >= unix_timestamp(cut) &&
              col("max_ts") < unix_timestamp(emb))
            .as("boundary_ok"))
        .orderBy("split")
    }),

    // Deterministic token-dropout augmentation: the md5 position coin
    // makes the augmented TEXT itself reproducible — the oracle
    // regenerates every kept token and the exact rejoined strings.
    "text_augment" -> ((s, dir) =>
      TF.augmentDropout(t(s, dir, "documents").where(col("doc_id") < 5),
          "doc_id", "text", dropPct = 15)
        .orderBy("doc_id")),

    // Temperature-scaled language sampling (α = 0.5): natural vs
    // smoothed shares + per-source boost — low-resource langs
    // up-sample without a weight table.
    "pipeline_temperature_mix" -> ((s, dir) =>
      graft.ops.DataPrep.temperatureMix(t(s, dir, "documents"), "lang",
        alpha = 0.5)),

    // Hybrid retrieval end-to-end: BM25 lexical top-20 (limit-then-rank
    // idiom) fused with embedding cosine top-20 (vec 0 as the query)
    // via reciprocal-rank fusion — the RAG retrieval stack composed
    // from three existing operators, each leg restated in the oracle.
    "text_hybrid_search" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val lexTop = TF.bm25Scores(docs, "doc_id", "text", Seq("join", "hash"))
        .select(col("doc_id"), round(col("bm25"), 6).as("b"))
        .orderBy(col("b").desc, col("doc_id")).limit(20)
      val lex = lexTop.withColumn("rank", row_number().over(
          Window.orderBy(col("b").desc, col("doc_id"))))
        .select("doc_id", "rank")
      val q = emb.where(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val sem = Similarity.bruteForceKnn(emb, "vec_id", "embedding",
          q, "qid", "qvec", 20)
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.ops.Analytics.reciprocalRankFusion(Seq(lex, sem), "doc_id", "rank")
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }),

    // Vocabulary drift between two corpus slices: add-one-smoothed log
    // rate ratios over vocabulary-bounded rollups, TakeOrdered top-k.
    "text_vocab_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TF.vocabDrift(docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 =!= 0), "text", minCount = 5L, k = 15)
    }),

    // Embedding dimension-prefix energy curve: the truncation-fidelity
    // table (Matryoshka-style) — one fused scan, all prefixes.
    "sim_energy" -> ((s, dir) =>
      Similarity.energyCurve(t(s, dir, "embeddings"), "embedding",
        Seq(8, 16, 32, 64))),

    // STREAMING embedding drift: 3 file-arrival batches of the vector
    // feed, each scored by random-feature MMD^2 against the static
    // reference means (computed once) — semantic drift per micro-batch
    // that scalar PSI monitors can't see; the oracle replays every
    // batch from the vec_id % 3 split with the sign-matrix literal.
    "sim_stream_drift" -> ((s, dir) => {
      val root = new java.io.File(
        s"/root/repo/target/fixtures/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/embed_drift_stream")
      def wipe(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); ()
      }
      wipe(root); root.mkdirs()
      val stage = new java.io.File(root, "arrivals"); stage.mkdirs()
      val em = t(s, dir, "embeddings").select("vec_id", "embedding")
      val now = System.currentTimeMillis()
      (0 until 3).foreach { i =>
        val tmp = new java.io.File(root, s"__tmp$i")
        em.where(pmod(col("vec_id"), lit(3)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(stage, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        wipe(tmp)
        dst.setLastModified(now - 300000L + i * 60000L)
      }
      val schema = s.read.parquet(s"${stage.getPath}/b0.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.getPath)
      val out = s"$root/out"
      val q = graft.streaming.Streams
        .embeddingDriftMonitor(stream, em, "embedding") { (df, _) =>
          df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      s.read.parquet(out)
        .select(col("batch_id"), col("n"), col("mmd2"))
        .orderBy("batch_id")
    }),

    // Random-feature MMD between the low- and high-label embedding
    // cohorts: kernel two-sample drift with NO pairwise stage — one
    // in-scan deterministic cos-feature map, a 64-row mean-diff
    // rollup; the oracle replays every feature coordinate against the
    // seed's sign matrix expanded as a literal.
    "sim_mmd" -> ((s, dir) =>
      Similarity.mmdRff(t(s, dir, "embeddings"), "embedding",
        col("label") <= 4, numFeatures = 64, gamma = 1.0)),

    // Rule-based topic tagging (seeded keyword taxonomies): per-doc
    // best-scoring topic with first-listed tie-break, "none" below the
    // threshold — in-scan, zero shuffles until the summary rollup.
    "text_topics" -> ((s, dir) =>
      TF.topicTag(t(s, dir, "documents"), "doc_id", "text", Seq(
          "joins" -> Seq("join", "hash", "merge", "key"),
          "streaming" -> Seq("stream", "window", "batch"),
          "storage" -> Seq("table", "column", "row", "scan")))
        .groupBy("topic")
        .agg(count(lit(1L)).as("n_docs"),
          round(avg(col("score")), 6).as("avg_score"))
        .orderBy("topic")),

    // PMI collocations: adjacent-pair pointwise mutual information over
    // vocabulary-bounded count rollups — bigrams generate in-scan
    // (zip_with over slices), scoring joins touch only aggregates.
    "text_pmi" -> ((s, dir) =>
      TF.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5L, k = 20)),

    // Trending terms: smoothed log-ratio of term rates between the two
    // doc_id-parity corpus slices — two count rollups, one
    // vocabulary-keyed full-outer join, TakeOrdered top-k.
    "text_trending" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TF.trendingTerms(d.where(col("doc_id") % 2 === 0),
        d.where(col("doc_id") % 2 === 1), "text", minCount = 5L, k = 15)
    }),

    // Novelty curve over 5 pseudo-crawls (doc_id mod 5), with every 3rd
    // doc re-ingested two shards later: first-appearance is one
    // digest-keyed min rollup; windows ride the 5-row shard table.
    "pipeline_novelty_curve" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = d.select((col("doc_id") % 5).as("shard"), col("text"))
        .union(d.where(col("doc_id") % 3 === 0)
          .select(((col("doc_id") % 5 + 2) % 5).as("shard"), col("text")))
      graft.ops.DataPrep.noveltyCurve(aug, col("shard"), "text")
        .orderBy("shard")
    }),

    // Training-mix waterfilling: 180k-token budget over 20 sources at
    // uniform target weights, 1.2-epoch repetition cap — small sources
    // cap, the freed budget flows to the rest at one exact λ. Every
    // window rides the 20-row source table.
    "pipeline_mixture_budget" -> ((s, dir) => {
      val avail = t(s, dir, "documents").groupBy("source")
        .agg(sum(col("n_chars")).as("tokens"))
      graft.ops.DataPrep.mixtureBudget(avail, "source", "tokens",
        (0 until 20).map(i => s"src$i" -> 0.05).toMap,
        budget = 180000.0, maxEpochs = 1.2)
        .orderBy("src")
    }),

    // Term burstiness as zero-folded VMR of per-doc counts
    // (E[x^2] = ssq/D) — the dispersion view; text_burstiness keeps
    // the Church-Gale cf/df view. Boilerplate/template detector.
    "text_term_vmr" -> ((s, dir) =>
      TF.termBurstiness(t(s, dir, "documents"), "doc_id", "text",
        minCount = 30L, k = 20)),

    // Vocabulary coverage: Good–Turing missing mass + Chao1 richness
    // floor from the frequency spectrum — one rollup, one agg.
    "text_coverage" -> ((s, dir) =>
      TF.vocabCoverage(t(s, dir, "documents"), "text")),

    // Zipf-law fit: ln-freq on ln-rank least squares over the ≥2-count
    // vocabulary, ranked by the two-phase global row_number (no
    // single-partition vocabulary sort).
    "text_zipf_fit" -> ((s, dir) =>
      TF.zipfFit(t(s, dir, "documents"), "text", minCount = 2L)),

    // What the rake COST: effective sample size / Kish design effect of
    // the two-iteration raked weights applied per row.
    "pipeline_rake_ess" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val t1 = Seq("de", "en", "es", "fr", "zh").map(_ -> 0.2).toMap
      val t2 = (0 until 20).map(i => s"src$i" -> 0.05).toMap
      val cells = graft.ops.DataPrep.rakeWeights(d, "lang", "source", t1, t2,
        iters = 2)
      graft.ops.Analytics.effectiveSampleSize(
        graft.ops.DataPrep.rakeApply(d, "lang", "source", cells),
        col("weight"))
    }),

    // Corpus-slice divergence: smoothed KL both ways + Jensen–Shannon
    // between per-language unigram distributions — one token rollup,
    // broadcast group×vocab grid, token-keyed pair join; |V|·|G|² work.
    "text_divergence" -> ((s, dir) =>
      TF.tokenDivergence(t(s, dir, "documents"), "lang", "text")
        .orderBy("src_a", "src_b")),

    // DEFLATE compressibility gate (native expression, in-scan): no SQL
    // restatement of DEFLATE exists, so the oracle-checked surface is
    // the DuckDB-computable anchor (n_docs) + in-engine verdicts: every
    // ratio lands in (0, 1.5]; LZ77 sees the planted repeated-phrase
    // doc as MORE compressible than every real doc; and a repeated
    // 16-char alphabet pattern — near-maximal char entropy — still
    // deflates below 0.1 (structure char entropy cannot see).
    "text_compress" -> ((s, dir) => {
      val ratios = t(s, dir, "documents")
        .select(GraftFunctions.deflateRatio(col("text")).as("r"))
        .agg(count(lit(1L)).as("n_docs"),
          sum(when(col("r") <= 0.0 || col("r") > 1.5, 1L).otherwise(0L))
            .as("n_out_of_range"),
          min(col("r")).as("__min_doc"))
      val planted = s.range(1).select(
        GraftFunctions.deflateRatio(lit("the cat sat " * 200)).as("__rep"),
        GraftFunctions.deflateRatio(lit("abcdefghijklmnop" * 64)).as("__pat"),
        TF.charEntropy(lit("abcdefghijklmnop" * 64)).as("__pat_h"))
      ratios.crossJoin(planted).select(
        col("n_docs"), col("n_out_of_range"),
        (col("__rep") < col("__min_doc")).as("repeat_most_compressible"),
        (col("__pat_h") > 3.9 && col("__pat") < 0.1).as("structure_beyond_entropy"))
    }),

    // Fraction-valued novelty/memorization scoring: per-doc overlap of
    // distinct char-13-grams against the English reference corpus,
    // rolled up per source. The Bloom-sketch path rides as verdicts:
    // one-sided (sketch n_seen ≥ exact n_seen, never under) and
    // bounded by n_grams — the 100 TB shape where the reference never
    // re-reads and the corpus never shuffles.
    "pipeline_novelty" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.where(col("lang") === "en")
      val rest = docs.where(col("lang") =!= "en")
      val exact = graft.functions.Decontam
        .gramOverlapFraction(rest, ref, "doc_id", "text", n = 13)
      val sketch = graft.functions.Decontam
        .buildGramBloom(ref, "text", 13, expectedGrams = 200000, fpp = 0.01)
      val blm = graft.functions.Decontam
        .gramOverlapFractionBloom(rest, "doc_id", "text", 13, sketch)
        .select(col("doc_id"), col("n_seen").as("bloom_seen"))
      val joined = exact.join(blm, "doc_id")
        .join(rest.select("doc_id", "source"), "doc_id")
      joined.groupBy("source")
        .agg(count(lit(1L)).as("n_docs"),
          round(avg(col("n_seen").cast("double") / col("n_grams")), 6)
            .as("avg_overlap"),
          round(min(col("overlap_frac")), 6).as("min_overlap"),
          round(max(col("overlap_frac")), 6).as("max_overlap"),
          (sum(when(col("bloom_seen") < col("n_seen"), 1L).otherwise(0L)) === 0)
            .as("bloom_one_sided_ok"),
          (sum(when(col("bloom_seen") > col("n_grams"), 1L).otherwise(0L)) === 0)
            .as("bloom_bounded_ok"))
        .orderBy("source")
    }),

    // BM25 keyword relevance (Lucene idf form) against a fixed query
    // bag — the lexical half of retrieval-based curation. One bounded
    // stats job (N, avgdl, per-term df, exchange ≤ |terms| rows), then
    // every document scores in the scan with idf folded as literals.
    "text_bm25" -> ((s, dir) =>
      TF.bm25Scores(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "join", "query"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)),

    // ASYMMETRIC containment pairs — the doc-in-doc relation Jaccard
    // cannot see: planted "outer" docs are concatenations of two base
    // docs, so each part is fully contained (containment 1.0) while its
    // Jaccard vs the outer is ≈ 1/2. AllPairs prefix filtering restated
    // for containment (inner-side rarest-gram prefix ⋈ outer-side full
    // index), exact-intersect verify; the oracle recomputes char-8-gram
    // containment with DuckDB list algebra.
    "dedup_containment" -> ((s, dir) => {
      val base = t(s, dir, "documents").where(col("doc_id") < 40)
        .select("doc_id", "text")
      val outers = base.as("a")
        .join(base.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .where(col("a.doc_id") % 2 === 0)
        .select((col("a.doc_id") + 2000000L).as("doc_id"),
          concat(col("a.text"), lit(" "), col("b.text")).as("text"))
      Dedup.containmentPairs(base.unionByName(outers), "doc_id", "text",
          shingleK = 8, tauPct = 90)
        .orderBy("inner_id", "outer_id")
    }),

    // TF-IDF cosine similarity pairs — the SPARSE-vector similarity join
    // over word unigrams (smooth idf, per-doc L2 normalization, maxDf
    // vector cutoff as part of the metric). Candidates come from the
    // TERM-keyed equi-join of normalized postings (Σ df² work, maxDf the
    // quadratic cap). Anchors: the 5 planted exact clones must pair at
    // rounded cos 1.0; pair count and max cos vs the full DuckDB
    // restatement of the identical tf/idf/normalize/threshold algebra.
    "dedup_tfidf_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 120)
        .select("doc_id", "text")
      val aug = docs.union(docs.where(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val pairs = Dedup.tfidfCosinePairs(aug, "doc_id", "text",
          minCos = 0.95)
        .localCheckpoint(true) // small pair list; read by 2 verdicts
      pairs.agg(count(lit(1L)).as("n_pairs"),
          round(max(col("cos")), 4).as("max_cos"))
        .crossJoin(pairs
          .where(col("id_b") === col("id_a") + 1000000L &&
            col("cos") >= 0.9999)
          .agg(count(lit(1L)).as("n_clone_pairs")))
        .select(col("n_pairs"), col("max_cos"), col("n_clone_pairs"),
          (col("n_clone_pairs") === 5L).as("clones_ok"))
    }),

    // Near-dup pair → CLUSTER resolution: connected components over the
    // deterministic exact-Jaccard pair graph (min-label propagation with
    // pointer doubling, O(log n) rounds — Clusters.connectedComponents).
    // One row per node in some pair; `component` = min reachable id (the
    // canonical keep-id). Hash-matched against a DuckDB WITH RECURSIVE
    // transitive-closure oracle.
    "dedup_cluster" -> ((s, dir) =>
      Clusters.connectedComponents(
        Dedup.jaccardNearDupPairs(
          t(s, dir, "documents").where(col("doc_id") < 1000),
          "doc_id", "text", shingleK = 5, tauPct = 51),
        "id_a", "id_b")
        .orderBy("id")),

    // Duplicate-FAMILY size distribution: how many components of each
    // size the near-dup graph resolves to — the "are my duplicates
    // pairs or swarms" report that sizes the cluster-drop step's
    // savings. Component sizes aggregate the CC result twice (both
    // exchanges component-keyed and bounded).
    "dedup_cluster_sizes" -> ((s, dir) =>
      Clusters.connectedComponents(
        Dedup.jaccardNearDupPairs(
          t(s, dir, "documents").where(col("doc_id") < 1000),
          "doc_id", "text", shingleK = 5, tauPct = 51),
        "id_a", "id_b")
        .groupBy(col("component")).agg(count(lit(1L)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1L)).as("n_clusters"))
        .orderBy("cluster_size")),

    // Near-dup-AWARE curation: quality filter → exact dedup → near-dup
    // CLUSTER drop (keep the min doc_id of every connected component of
    // the exact-Jaccard pair graph) → summary. The full "found pairs →
    // dropped the right docs" path, end-to-end against the recursive
    // oracle. Restricted to the exact-audit slice (doc_id < 1000) so the
    // pair stage is the provably-exact AllPairs variant; the estimated
    // 100 TB pair stage is dedup_minhash and plugs into the same
    // Clusters.dropNearDupMembers.
    "pipeline_curate_near" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 1000)
      val scored = docs.select(col("doc_id"), col("text"),
        TF.qualityScore(col("text")).as("q"))
      val quality = scored.where(col("q") >= 0.5)
      // The quality+window subtree feeds the pair featurization, the
      // cluster-drop anti-join AND the summary aggregates — persist it for
      // the duration of this one call (released once the one-row result
      // is checkpointed) instead of recomputing the window scan 3-4×.
      // Keeping the rank column lets ONE pass produce both the quality
      // count and the exact-dedup count.
      val ranked = quality
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .persist()
      val kept = ranked.where(col("rn") === 1).drop("rn")
      val pairs = Dedup.jaccardNearDupPairs(kept, "doc_id", "text",
        shingleK = 5, tauPct = 51)
      val fin = Clusters.dropNearDupMembers(kept, "doc_id", pairs)
      val result = ranked.agg(count(lit(1L)).as("n_quality"),
          count(when(col("rn") === 1, 1)).as("n_exact"))
        .crossJoin(fin.agg(count(lit(1L)).as("n_final"),
          sum(length(col("text"))).cast("long").as("final_chars")))
      val out = result.localCheckpoint(true)
      ranked.unpersist(blocking = false)
      out
    }),

    // Quality-aware cluster representatives: keep the HIGHEST-quality
    // member of every exact-Jaccard near-dup cluster (tie-broken by id)
    // instead of the min id — the curation semantic a real pipeline
    // wants. Summary anchors: kept count, kept id sum (exact), kept
    // chars. Hash-matched against the recursive-closure + window oracle.
    "pipeline_curate_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 1000)
        .select(col("doc_id"), col("text"), TF.qualityScore(col("text")).as("q"))
      val pairs = Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
        shingleK = 5, tauPct = 51)
      Clusters.keepBestPerCluster(docs, "doc_id", pairs,
          Seq(col("q").desc, col("doc_id")))
        .agg(count(lit(1L)).as("n_kept"),
             sum(col("doc_id")).cast("long").as("kept_id_sum"),
             sum(length(col("text"))).cast("long").as("kept_chars"))
    }),

    // MinHash + LSH banding near-dup pairs (the 100 TB path: shuffle only
    // on band hashes, verify only colliding pairs), made oracle-VISIBLE:
    // the engine computes both the LSH pair set and the exact AllPairs
    // ground truth on the audit slice and emits (a) the exact pair count
    // (DuckDB recomputes it), (b) the false-positive count (provably 0 —
    // LSH candidates are exact-verified), (c) a recall >= 90% verdict.
    // The driver's check is now "recall >= X", not "returns rows".
    "dedup_minhash" -> ((s, dir) => {
      val slice = t(s, dir, "documents").where(col("doc_id") < 1000)
      val found = Dedup.minhashNearDupPairs(slice, "doc_id", "text",
          shingleK = 5, numHashes = 64, bands = 16, tauPct = 51)
        .select("id_a", "id_b")
      val exact = Dedup.jaccardNearDupPairs(slice, "doc_id", "text",
          shingleK = 5, tauPct = 51)
        .select("id_a", "id_b")
      exact.agg(count(lit(1L)).as("n_exact"))
        .crossJoin(found.join(exact, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1L)).as("n_false")))
        .crossJoin(found.join(exact, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1L)).as("n_hit")))
        .select(col("n_exact"), col("n_false"),
          (col("n_hit") * 100 >= col("n_exact") * 90).as("recall_ok"))
    }),

    // Incremental near-dup via the parquet INDEX protocol, end to end and
    // oracle-VISIBLE: the standing corpus is featurized once and written
    // as a parquet minhash index (written fresh each run — the protocol's
    // write is part of what's exercised), the arriving batch is banded
    // against the index read back from disk, and the matches are compared
    // in-engine to the exact cross-Jaccard ground truth over the same
    // hashed shingles (bounded 200×500 audit; the scale path is the
    // batch-bands × index-bands equi-join). DuckDB recomputes the exact
    // cross-pair count from string shingles.
    "dedup_incr_near" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // corpus/batch from a mod split so both exist at every SF; the
      // batch additionally carries PLANTED near-copies of corpus docs
      // (a short appended suffix keeps char-5-gram jaccard near 1) so
      // the ground truth is never vacuous
      val corpus = docs.where(col("doc_id") < 300 && col("doc_id") % 3 =!= 0)
        .select("doc_id", "text")
      val batch = docs.where(col("doc_id") < 300 && col("doc_id") % 3 === 0)
        .select("doc_id", "text")
        .union(corpus.where(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(col("text"), lit(" planted copy")).as("text")))
      val idxPath = s"/root/repo/target/fixtures/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/minhash_index"
      Dedup.minhashFeaturize(corpus, "doc_id", "text")
        .write.mode("overwrite").parquet(idxPath)
      val index = s.read.parquet(idxPath)
      val found = Dedup.minhashNearDupAgainst(batch, index, "doc_id", "text",
          shingleK = 5, numHashes = 64, bands = 16, tauPct = 51)
        .select(col("doc_id").as("id_b"), col("corpus_id").as("id_a"))
      // exact cross ground truth on the same hashed shingles — deliberate
      // bounded all-pairs audit with the size prefilter, merge intersect
      val shc = corpus.select(col("doc_id").as("id_a"),
        GraftFunctions.charShingleHashes(col("text"), 5).as("sh_a"))
      val shb = batch.select(col("doc_id").as("id_b"),
        GraftFunctions.charShingleHashes(col("text"), 5).as("sh_b"))
      val exact = shb.crossJoin(shc)
        .where(Dedup.sizeCompatible(size(col("sh_a")), size(col("sh_b")), 51))
        .withColumn("inter", GraftFunctions.sortedIntersectCount(col("sh_a"), col("sh_b")))
        .where(col("inter") * 100 >= (size(col("sh_a")) + size(col("sh_b")) - col("inter")) * 51)
        .select("id_a", "id_b")
        .localCheckpoint(true)
      exact.agg(count(lit(1L)).as("n_exact"))
        .crossJoin(found.join(exact, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1L)).as("n_false")))
        .crossJoin(found.join(exact, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1L)).as("n_hit")))
        .select(col("n_exact"), col("n_false"),
          (col("n_hit") * 100 >= col("n_exact") * 90).as("recall_ok"))
    }),

    // STREAMING near-dup corpus ingest end to end: three staged parquet
    // files arrive as three micro-batches (file source,
    // maxFilesPerTrigger=1, AvailableNow) through Streams.nearDupIngest —
    // within-batch collapse, filtering against the persistent signature
    // index, survivor signatures appended batch-by-batch. Batch 1 carries
    // planted EXACT copies of batch-0 docs (must be caught by the index),
    // batch 2 carries planted within-batch copies (must be caught by the
    // batch-local collapse; their +3000000 ids are never the keep-min).
    // Both verdicts hold at jaccard exactly 1 regardless of natural
    // near-dups in the slice, and a sequential batch fold through the
    // same per-batch body must produce the identical survivor set
    // (stream/batch parity). The oracle recomputes the input construction
    // counts; the verdicts are the engine's booleans.
    "dedup_stream_ingest" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .where(col("doc_id") < 900 && col("text").isNotNull &&
          trim(col("text")) =!= "")
        .select("doc_id", "text")
      val b0 = docs.where(col("doc_id") % 3 === 0)
      val b1 = docs.where(col("doc_id") % 3 === 1)
        .union(b0.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val b2n = docs.where(col("doc_id") % 3 === 2)
      val b2 = b2n.union(b2n.where(col("doc_id") % 5 === 2)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      val root = new java.io.File(
        s"/root/repo/target/fixtures/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/nd_ingest")
      def wipe(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); ()
      }
      wipe(root); root.mkdirs()
      val stage = new java.io.File(root, "arrivals"); stage.mkdirs()
      val now = System.currentTimeMillis()
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
        val tmp = new java.io.File(root, s"__tmp$i")
        b.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(stage, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        wipe(tmp)
        // the file source orders arrivals by modification time
        dst.setLastModified(now - 300000L + i * 60000L)
      }
      val schema = s.read.parquet(s"${stage.getPath}/b0.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.getPath)
      val streamIds = scala.collection.mutable.Set.empty[Long]
      var nBatches = 0
      // 32 hashes / 8 bands: the planted clones are near-exact (every
      // band agrees), so the halved signature keeps recall 1 while
      // cutting the six cascade invocations' featurize cost
      // NOT volume-size-wrapped (r17 measured rejection): this stream
      // is foreachBatch — no state stores — and its cost is the staged
      // writes + 6 cascade invocations, which the partition count does
      // not drive (wrapped A/B read 13.4s min-of-2 vs 11.8 baseline:
      // the 1-partition sizing only serialized the featurize CPU). The
      // volume-sizing belongs to the state-store rows (q_stream_join
      // et al.), where it halves the row.
      val q = graft.streaming.Streams.nearDupIngest(stream, "doc_id", "text",
          s"$root/idx_stream", numHashes = 32, bands = 8) { (survivors, _) =>
          streamIds.synchronized {
            streamIds ++= survivors.select("doc_id").as[Long].collect()
            nBatches += 1
          }
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      // sequential batch fold through the SAME per-batch body
      val foldIds = Seq(b0, b1, b2).zipWithIndex.flatMap { case (b, i) =>
        graft.streaming.Streams
          .nearDupIngestBatch(b, i.toLong, "doc_id", "text", s"$root/idx_fold",
            numHashes = 32, bands = 8)
          .select("doc_id").as[Long].collect()
      }.toSet
      val crossOk = !streamIds.exists(id => id >= 2000000L && id < 3000000L)
      val withinOk = !streamIds.exists(_ >= 3000000L)
      b0.union(b1).union(b2).agg(
        count(lit(1L)).as("n_input"),
        sum(when(col("doc_id") >= 2000000L && col("doc_id") < 3000000L, 1L)
          .otherwise(0L)).as("n_cross_planted"),
        sum(when(col("doc_id") >= 3000000L, 1L).otherwise(0L))
          .as("n_within_planted"))
        .select(col("n_input"), col("n_cross_planted"), col("n_within_planted"),
          lit(crossOk).as("cross_dropped_ok"),
          lit(withinOk).as("within_dropped_ok"),
          lit(streamIds.toSet == foldIds).as("parity_ok"),
          lit(nBatches.toLong).as("n_stream_batches"))
    }),

    // SimHash (custom Catalyst expression) near-dup pairs via 16-bit
    // chunk banding, made oracle-VISIBLE: the banding's pigeonhole
    // completeness (hamming <= 3 ⇒ some chunk equal, so the banded pair
    // set must EQUAL the all-pairs ground truth) is verified in-engine on
    // a bounded audit slice with planted exact duplicates (same text ⇒
    // same simhash ⇒ hamming 0 ⇒ must be found). The brute-force side is
    // the deliberate O(n²) audit baseline on ~300 docs, never the scale
    // path. n_planted anchors the row to a DuckDB-computable count.
    "dedup_simhash" -> ((s, dir) => {
      GraftFunctions.register(s)
      val base = t(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val docs = base
        .union(base.where(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        .select(col("doc_id"), GraftFunctions.simhash64(TF.tokensWs(col("text"))).as("sim"))
        .localCheckpoint(true) // tiny (id, sim) slice, read by 2 pair paths
      val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "sim", maxHamming = 3)
        .select("id_a", "id_b")
      val brute = docs.toDF("id_a", "sim_a")
        .join(docs.toDF("id_b", "sim_b"), col("id_a") < col("id_b"))
        .where(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= 3)
        .select("id_a", "id_b")
      base.where(col("doc_id") % 50 === 0).agg(count(lit(1L)).as("n_planted"))
        .crossJoin(brute.join(banded, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1L)).as("n_missed")))
        .crossJoin(banded.join(brute, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1L)).as("n_extra")))
        .crossJoin(banded.where(col("id_b") === col("id_a") + 100000L)
          .agg(count(lit(1L)).as("n_pf")))
        .select(col("n_planted"),
          (col("n_missed") === 0 && col("n_extra") === 0).as("banding_exact_ok"),
          (col("n_pf") >= col("n_planted")).as("planted_found_ok"))
    }),

    // End-to-end corpus curation: quality-filter → exact dedup (keep the
    // lowest doc_id per content hash) → corpus summary. The deterministic
    // composition of the pipeline stages, verified stage by stage against
    // the oracle; the probabilistic near-dup stage is dedup_minhash.
    "pipeline_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("text"),
        TF.qualityScore(col("text")).as("q"))
      // Keep the dedup rank as a column and fold the quality and
      // kept-subset statistics into ONE conditional aggregation pass —
      // the window subtree runs once, not once per crossJoined aggregate.
      val ranked = scored.where(col("q") >= 0.5)
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      docs.agg(count(lit(1L)).as("n_input"))
        .crossJoin(ranked.agg(count(lit(1L)).as("n_quality"),
          count(when(col("rn") === 1, 1)).as("n_kept"),
          round(avg(when(col("rn") === 1, col("q"))), 6).as("avg_q_kept"),
          sum(when(col("rn") === 1, length(col("text")))).cast("long").as("kept_chars")))
    }),

    // Benchmark decontamination (the n-gram overlap protocol): treat
    // every 31st doc as the "eval set", flag corpus docs sharing a
    // 30-char window. The operator default is the published 13 for
    // natural text; this synthetic corpus is template-heavy (13-char
    // windows recur across unrelated docs), so the query uses 30 —
    // which flags exactly the planted duplicates of benchmark docs.
    // Oracle joins raw grams; the engine joins 64-bit gram hashes
    // (same result, 8-byte keys).
    "pipeline_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 31 === 0)
      val corpus = docs.where(col("doc_id") % 31 =!= 0)
      val bad = Decontam.contaminatedIds(corpus, bench, "doc_id", "text", n = 30)
      corpus.agg(count(lit(1L)).as("n_corpus"))
        .crossJoin(bench.agg(count(lit(1L)).as("n_bench")))
        .crossJoin(bad.agg(count(lit(1L)).as("n_contaminated")))
    }),

    // Per-BENCHMARK contamination attribution: the decontam gram join
    // generalized to (doc, eval-suite) pairs — which suite leaked into
    // the corpus, not just whether one did. Suites are a deterministic
    // 3-way tag over the benchmark slice; exchanges stay suite-bounded.
    "pipeline_decontam_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 31 === 0)
        .select(concat(lit("suite_"), (col("doc_id") % 3).cast("string"))
          .as("bench"), col("text"))
      val corpus = docs.where(col("doc_id") % 31 =!= 0)
      Decontam.contaminationMatrix(corpus, bench, "doc_id", "bench",
          "text", n = 30)
        .groupBy("benchmark")
        .agg(count(lit(1L)).as("n_docs"))
        .orderBy("benchmark")
    }),

    // Sketched decontamination under the gate: the Bloom path (corpus
    // side = ONE shuffle-free scan with an in-scan might-contain
    // predicate — the 100 TB shape when the benchmark gram set outgrows
    // an exact broadcast) against the exact path as in-engine truth.
    // Verdicts in-row: the Bloom flag set must be a SUPERSET of the
    // exact set (one-sided error by construction — zero false keeps),
    // and the false-positive overhead must stay under 5% of the corpus
    // (fpp 1e-6 × ~1k grams/doc ⇒ expected per-doc FP ~1e-3). The exact
    // count is DuckDB-recomputable; the booleans pin the sketch path.
    "pipeline_decontam_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 31 === 0)
      val corpus = docs.where(col("doc_id") % 31 =!= 0)
      val exact = Decontam.contaminatedIds(corpus, bench, "doc_id", "text", n = 30)
        .localCheckpoint(true) // bounded: distinct contaminated ids
      val bloom = Decontam.contaminatedIdsBloom(corpus, bench, "doc_id", "text",
          n = 30, expectedGrams = 1L << 17, fpp = 1e-6)
        .localCheckpoint(true) // bounded: flagged ids only
      corpus.agg(count(lit(1L)).as("n_corpus"))
        .crossJoin(exact.agg(count(lit(1L)).as("n_exact")))
        .crossJoin(exact.join(bloom, Seq("doc_id"), "left_anti")
          .agg(count(lit(1L)).as("n_missed")))
        .crossJoin(bloom.agg(count(lit(1L)).as("n_bloom")))
        .select(col("n_corpus"), col("n_exact"),
          (col("n_missed") === 0).as("superset_ok"),
          ((col("n_bloom") - col("n_exact")) * 20 <= col("n_corpus")).as("fp_bounded_ok"))
    }),

    // Vocabulary statistics: global top-20 whitespace tokens with a full
    // deterministic tie-break — the counting shuffle carries (token,
    // partial count) pairs, the top-k is a TakeOrdered, never a full sort.
    "pipeline_vocab" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TF.tokensWs(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1L)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // Deterministic GROUP-KEYED train/valid/test split (hash of source,
    // not doc_id — all docs of one source land in one split, so
    // near-identical documents from a source can't leak from train into
    // eval). md5 bucketing is engine-portable → full DuckDB oracle.
    "pipeline_split" -> ((s, dir) =>
      graft.ops.DataPrep.hashSplit(t(s, dir, "documents"), col("source"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1L)).as("n_docs"),
             round(avg(col("n_chars")), 6).as("avg_chars"),
             countDistinct(col("source")).as("n_sources"))
        .orderBy("split")),

    // Deterministic stratified sampling: per-language rates keyed on
    // doc_id md5 buckets — reproducible across engines/runs/cluster
    // sizes, and nested across rates (a 10% sample is a subset of the
    // 50% sample). Pure in-scan Column math, zero shuffles before the
    // summary agg.
    "pipeline_sample" -> ((s, dir) =>
      graft.ops.DataPrep.stratifiedHashSample(
          t(s, dir, "documents"), col("doc_id"), col("lang"),
          Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.1)
        .groupBy("lang")
        .agg(count(lit(1L)).as("n_docs"),
             sum(length(col("text"))).cast("long").as("sampled_chars"))
        .orderBy("lang")),

    // Sequence packing per source shard: contiguous docs accumulate into
    // packs of ~2048 whitespace tokens (start-offset binning, one window
    // pass). Summary per source; window semantics mirrored in DuckDB.
    "pipeline_pack" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TF.tokenCountWs(col("text")).cast("long").as("toks"))
      graft.ops.DataPrep.packByBudget(d, Seq(col("source")), Seq(col("doc_id")),
          col("toks"), budget = 2048L)
        .groupBy("source", "pack_id")
        .agg(count(lit(1L)).as("n_docs"), sum("toks").as("pack_toks"))
        .groupBy("source")
        .agg(count(lit(1L)).as("n_packs"),
             max(col("pack_toks")).as("max_pack_toks"),
             sum(col("n_docs")).cast("long").as("n_docs"))
        .orderBy("source")
    }),

    // Corpus mixing to TARGET proportions: derive per-language rates from
    // the target weights and the observed counts (one tiny counts job),
    // keep the binding stratum whole, downsample the rest — deterministic
    // md5-bucket membership, zero shuffles in the sampling pass.
    "pipeline_mix" -> ((s, dir) =>
      graft.ops.DataPrep.mixToTarget(t(s, dir, "documents"), col("doc_id"), col("lang"),
          Map("en" -> 0.4, "zh" -> 0.2, "de" -> 0.2, "fr" -> 0.1, "es" -> 0.1))
        .groupBy("lang")
        .agg(count(lit(1L)).as("n_docs"),
             sum(length(col("text"))).cast("long").as("mixed_chars"))
        .orderBy("lang")),

    // Sliding-window token chunking (context-window shaping): 32-token
    // windows every 16 tokens — overlapping trainer-sized examples from
    // long documents, the complement of pipeline_pack's binning. Pure
    // in-scan posexplode; chunk text compared verbatim.
    "pipeline_chunk" -> ((s, dir) =>
      graft.ops.DataPrep.chunkTokens(
          t(s, dir, "documents").where(col("doc_id") < 100).select("doc_id", "text"),
          col("text"), chunkSize = 32, stride = 16)
        .select(col("doc_id"), col("chunk_id"), col("chunk"),
                TF.tokenCountWs(col("chunk")).cast("long").as("n_toks"))
        .orderBy("doc_id", "chunk_id")),

    // Z-order (Morton) clustering key for multi-dimensional data
    // skipping: 8-bit equi-width buckets of (l_partkey, l_suppkey)
    // interleaved into one long — the key Layout.zorderWrite range-
    // clusters files on, keeping parquet min/max stats tight on BOTH
    // columns (LayoutSpec measures the file-pruning payoff; the oracle
    // pins the key arithmetic bit-for-bit against DuckDB's own
    // shift/and algebra). In-scan Column math over one broadcast
    // min/max row — no shuffle beyond the final 1-row aggregate.
    "pipeline_zorder" -> ((s, dir) => {
      import graft.ops.Layout
      val li = t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
      val rng = li.agg(
        min("l_partkey").as("p_lo"), max("l_partkey").as("p_hi"),
        min("l_suppkey").as("s_lo"), max("l_suppkey").as("s_hi"))
      li.crossJoin(broadcast(rng))
        .select(Layout.zvalue(Seq(
            (col("l_partkey"), col("p_lo"), col("p_hi")),
            (col("l_suppkey"), col("s_lo"), col("s_hi"))), bits = 8).as("z"))
        .agg(count(lit(1L)).as("n"), min("z").as("z_min"), max("z").as("z_max"),
             sum("z").as("z_sum"), countDistinct(col("z")).as("z_cells"))
    }),

    // SEMANTIC cluster-balanced sampling (the diversity-flattening step
    // of embedding-aware corpus curation, e.g. the cluster-resample
    // stage in DeepMind's semantic-dedup line of work): k-means cells
    // from ONE bounded seeded sampling job (Pq.trainLocal, m=1 — the
    // IVF coarse quantizer reused as a topic model), in-scan argmin
    // assignment, then mixToTarget flattens the cluster histogram with
    // deterministic md5 per-stratum rates — the binding (smallest)
    // cluster is kept whole, larger ones downsample toward it. Cluster
    // geometry is not SQL-expressible; the oracle anchors the corpus
    // count and pins the engine's structural verdicts (coverage, never
    // widening the spread, binding-cluster wholeness, bounded
    // imbalance), all deterministic under the fixed seed.
    // Cross-split leakage audit: clone every doc under a new id, split
    // ROW-keyed (deliberately leaky — the discipline hashSplit's group
    // key exists to enforce), and count dup pairs straddling splits.
    // Two id-keyed joins + a category-bounded rollup; pairs here are
    // the 500 planted clone pairs (corpus texts are unique).
    "pipeline_split_leakage" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.union(
        d.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      val assign = graft.ops.DataPrep.hashSplit(corpus, col("doc_id"),
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      val keyed = corpus.select(col("doc_id"), md5(col("text")).as("d"))
      val pairs = keyed.toDF("id_a", "d")
        .join(keyed.toDF("id_b", "d"), "d")
        .where(col("id_a") < col("id_b")).select("id_a", "id_b")
      graft.ops.DataPrep.splitLeakageAudit(assign, "doc_id", "split", pairs)
        .orderBy("split_a", "split_b")
    }),

    // Dataset-level overlap: exact pairwise Jaccard between slice
    // digest sets (digest-keyed equi-join, output-sensitive) next to
    // the mergeable bottom-1 MinHash estimate — the signature min runs
    // over the LEXICOGRAPHIC order of md5 strings, a total order both
    // engines share, so the estimate itself is recomputed exactly in
    // SQL (no tolerance band). Slices are doc_id ranges planted to
    // overlap (the corpus's natural sources share zero texts).
    "dedup_source_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val slices = d.where(col("doc_id") < 300)
          .select(lit("a").as("src"), col("text"))
        .union(d.where(col("doc_id") >= 200 && col("doc_id") < 500)
          .select(lit("b").as("src"), col("text")))
        .union(d.where(col("doc_id") % 2 === 0)
          .select(lit("c").as("src"), col("text")))
      Dedup.sourceOverlapExact(slices, "src", "text")
        .join(Dedup.sourceOverlapMinhash(slices, "src", "text", numHashes = 64),
          Seq("src_a", "src_b"))
        .orderBy("src_a", "src_b")
    }),

    // Raking (IPF): fit per-row weights so the weighted (lang × source)
    // marginals hit uniform targets — one contingency-table aggregation
    // job, IPF over the tiny cell table, weights emitted per cell. Two
    // iterations here so the oracle can unroll the recurrence exactly
    // as windowed margin scalings.
    "pipeline_rake" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val t1 = Seq("de", "en", "es", "fr", "zh").map(_ -> 0.2).toMap
      val t2 = (0 until 20).map(i => s"src$i" -> 0.05).toMap
      graft.ops.DataPrep.rakeWeights(d, "lang", "source", t1, t2, iters = 2)
        .orderBy("lang", "source")
    }),

    // Cluster-balanced sampling after coarse-quantizer assignment: per-cluster quotas balance a skewed corpus.
    "pipeline_cluster_balance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val assigned = Ivf.clusterAssign(emb, "embedding", nClusters = 8, seed = 42L)
        .select(col("vec_id"), col("cluster").cast("string").as("cluster"))
        .localCheckpoint(true) // tiny (id, cluster) pairs; read 3×
      def histo(df: DataFrame): Map[String, Long] = df.groupBy("cluster")
        .agg(count(lit(1L)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val inC = histo(assigned)
      val balanced = graft.ops.DataPrep.mixToTarget(assigned, col("vec_id"),
        col("cluster"), inC.keys.map(_ -> 1.0).toMap)
      val outC = histo(balanced)
      val binding = inC.minBy { case (c, n) => (n, c) }
      emb.agg(count(lit(1L)).as("n_in")).select(col("n_in"),
        lit(inC.size >= 2 && inC.size <= 8).as("n_clusters_ok"),
        lit(outC.keySet == inC.keySet).as("coverage_ok"),
        lit(outC.values.max - outC.values.min <= inC.values.max - inC.values.min)
          .as("spread_ok"),
        lit(outC(binding._1) == binding._2).as("binding_whole_ok"),
        lit(outC.values.max <= math.ceil(1.5 * outC.values.min).toLong)
          .as("balance_ok"))
    }),

    // CCNet-style cross-corpus LINE dedup: an 8-token banner line planted
    // on every 5th doc (plus any naturally recurring template lines) must
    // be deleted from every document and the survivors reassembled in
    // order. Per-source totals prove the rewrite; the oracle rebuilds the
    // same width-8 line structure from strings.
    "text_line_dedup" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 0,
          concat(lit("dup0 dup1 dup2 dup3 dup4 dup5 dup6 dup7 "), col("text")))
          .otherwise(col("text")).as("text"))
      TF.dropDuplicatedLines(planted, "doc_id", "text", lineWidth = 8, minDf = 50L)
        .join(planted.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1L)).as("n_docs"),
             sum(col("n_lines")).cast("long").as("lines_total"),
             sum(col("n_dropped")).cast("long").as("lines_dropped"),
             sum(length(col("clean"))).cast("long").as("clean_chars"))
        .orderBy("source")
    }),

    // Repeated-substring SPAN removal (Lee et al. 2022 semantics): a
    // 50-char sentence planted on every 6th doc must be cut from every
    // occurrence EXCEPT the canonical first (min doc id keeps its text).
    // 30-char windows anchor the detection; the oracle rebuilds the same
    // marking/merge/cut from string windows.
    "text_span_dedup" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 6 === 0,
          concat(col("text"),
            lit(" the quick brown fox jumps over the lazy dog again")))
          .otherwise(col("text")).as("text"))
      graft.functions.SpanDedup.dropRepeatedSpans(planted, "doc_id", "text", L = 30)
        .join(planted.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1L)).as("n_docs"),
             sum(col("n_spans")).cast("long").as("n_spans"),
             sum(col("chars_removed")).cast("long").as("chars_removed"),
             sum(length(col("clean"))).cast("long").as("clean_chars"))
        .orderBy("source")
    }),

    // ExactSubstr span dedup (Lee et al. 2022's published 50-token
    // standard, here at minTokens=12 against a 21-token banner planted
    // on every 7th doc): the maximal repeated token run is cut from
    // every occurrence except the minimum-id canonical one, with EXACT
    // token boundaries (no winnowing slop). The oracle restates the
    // gram ownership with token-12-gram STRINGS where the engine
    // carries xxhash64 of the same grams.
    "dedup_exact_substr" -> ((s, dir) => {
      val banner = " exact span alpha beta gamma delta epsilon zeta eta" +
        " theta iota kappa lambda mu nu xi omicron pi rho sigma tau"
      val planted = t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(banner)))
          .otherwise(col("text")).as("text"))
      graft.functions.SpanDedup.dropExactSubstr(planted, "doc_id", "text",
          minTokens = 12)
        .join(planted.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1L)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("tokens_total"),
          sum(col("n_spans")).cast("long").as("n_spans"),
          sum(col("tokens_removed")).cast("long").as("tokens_removed"),
          sum(length(col("clean"))).cast("long").as("clean_chars"))
        .orderBy("source")
    }),

    // Per-dimension embedding PSI between the label cohorts: WHICH
    // coordinates moved (sim_mmd's actionable follow-up). One explode
    // scan, per-dim bounds broadcast, dense dim x bin grid.
    "sim_dim_drift" -> ((s, dir) =>
      graft.ops.Analytics.embeddingDimDrift(
        t(s, dir, "embeddings").where(size(col("embedding")) === 64),
        "embedding", col("label") <= 4)),

    // MMR diversity-aware top-k (Carbonell-Goldstein): relevance from
    // the modulo fixture, redundancy from embedding cosine; 4 greedy
    // rounds the oracle unrolls as CTEs.
    "sim_mmr" -> ((s, dir) =>
      Similarity.mmrSelect(
        t(s, dir, "embeddings").where(size(col("embedding")) === 64),
        "vec_id", "embedding",
        (col("vec_id") % 23).cast("double") / 22, k = 4)),

    // Embedding-space decontamination: vec_id < 20 plays the benchmark
    // suite; every corpus embedding's best cosine against it decides
    // the flag (bench members flag themselves at ~1.0). One in-scan
    // fold over the plan-time benchmark literal — no corpus×bench
    // explosion; the oracle replays the full cross product.
    "pipeline_semantic_decontam" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bench = emb.where(col("vec_id") < 20)
      graft.functions.Decontam.semanticContamination(
          emb, bench, "vec_id", "embedding", "embedding", minCos = 0.8)
        .join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(count(lit(1L)).as("n"),
          sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
          round(avg(col("best_cos")), 4).as("avg_best"))
        .orderBy("label")
    }),

    // Intra-document ExactSubstr (the self-repeat half of Lee et al.
    // 2022, zero shuffles — one native-expression scan): a 15-token
    // phrase planted TWICE in a row on every 5th doc; the second
    // occurrence must be cut, the first kept, and docs sharing text
    // only ACROSS documents stay untouched.
    "dedup_self_substr" -> ((s, dir) => {
      val phrase = (1 to 15).map(i => s"selfrep$i").mkString(" ")
      val planted = t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(s" $phrase $phrase")))
          .otherwise(col("text")).as("text"))
      graft.functions.SpanDedup.dropSelfRepeats(planted, "doc_id", "text",
          minTokens = 12)
        .join(planted.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1L)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("tokens_total"),
          sum(col("n_spans")).cast("long").as("n_spans"),
          sum(col("tokens_removed")).cast("long").as("tokens_removed"),
          sum(length(col("clean"))).cast("long").as("clean_chars"))
        .orderBy("source")
    }),

    // FULL ExactSubstr composition (Lee et al. 2022 end to end):
    // intra-doc self-repeats cut first, then cross-document repeats on
    // the self-cleaned text — both plants at once (doubled phrase on
    // every 5th doc, shared banner on every 7th; doc_ids divisible by
    // 35 carry both). The oracle chains both CTE machines over the
    // same intermediate text, proving the composition, not just the
    // stages.
    "dedup_substr_full" -> ((s, dir) => {
      val phrase = (1 to 15).map(i => s"selfrep$i").mkString(" ")
      val banner = " exact span alpha beta gamma delta epsilon zeta eta" +
        " theta iota kappa lambda mu nu xi omicron pi rho sigma tau"
      val planted = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(s" $phrase $phrase")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(banner)).otherwise(lit("")))
          .as("text"))
      val self = graft.functions.SpanDedup.dropSelfRepeats(
        planted, "doc_id", "text", minTokens = 12)
      val cross = graft.functions.SpanDedup.dropExactSubstr(
        self.select(col("doc_id"), col("clean").as("text")),
        "doc_id", "text", minTokens = 12)
      cross.select(col("doc_id"), col("clean"),
          col("tokens_removed").as("cross_removed"))
        .join(self.select(col("doc_id"),
          col("tokens_removed").as("self_removed")), "doc_id")
        .join(planted.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1L)).as("n_docs"),
          sum(col("self_removed")).cast("long").as("self_removed"),
          sum(col("cross_removed")).cast("long").as("cross_removed"),
          sum(length(col("clean"))).cast("long").as("clean_chars"))
        .orderBy("source")
    }),

    // Cross-corpus boilerplate share: word-5-grams recurring in >= 50
    // docs (a planted banner on every 4th doc) scored per document. The
    // df pass explodes per-doc DISTINCT gram hashes; survivors broadcast;
    // the per-doc aggregate shuffle carries one row per document.
    "text_boilerplate" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("subscribe to our newsletter all rights reserved click here to continue "),
                 col("text")))
          .otherwise(col("text")).as("text"))
      Boilerplate.boilerplateFractions(planted, "doc_id", "text", n = 5, minDf = 50L)
        .where(col("doc_id") < 60)
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
                round(col("boiler_frac"), 6).as("boiler_frac"))
        .orderBy("doc_id")
    }),

    // Per-domain cap: each source keeps its top-5 documents by
    // (n_chars desc, doc_id) — bounding any one domain's share of the
    // corpus. WindowGroupLimit cuts to k per group BEFORE the group-key
    // exchange (plan-asserted): a billion-row domain never assembles.
    "pipeline_domain_cap" -> ((s, dir) =>
      graft.ops.DataPrep.capPerGroup(t(s, dir, "documents"),
          Seq(col("source")), Seq(col("n_chars").desc, col("doc_id")), k = 5)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("source", "doc_id")),

    // Quality-percentile filter: keep docs at/above the corpus p75 of
    // n_chars. The threshold is ONE tiny aggregation job folded into the
    // plan as a literal (exact interpolated percentile here to mirror
    // DuckDB quantile_cont; the 100 TB route passes exact=false for the
    // mergeable approx_percentile sketch); the filter runs in-scan.
    "pipeline_quantile" -> ((s, dir) =>
      graft.ops.DataPrep.filterByQuantile(
          t(s, dir, "documents"), col("n_chars"), 0.75, exact = true)
        .groupBy("lang")
        .agg(count(lit(1L)).as("n_docs"),
             min(col("n_chars")).as("min_chars"),
             sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy("lang")),

    // Deterministic training-order shuffle: md5(seed‖key) is a pure key
    // function, so the permutation reproduces on any engine/cluster/run.
    // Taking the order's first 30 collapses to a TakeOrdered
    // (plan-asserted — no full sort materializes for a prefix).
    "pipeline_shuffle" -> ((s, dir) => {
      val first30 = graft.ops.DataPrep.deterministicShuffle(
          t(s, dir, "documents").select("doc_id"), col("doc_id"), seed = 42L)
        .limit(30)
      first30.withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("shuffle_key"), col("doc_id"))))
    }),

    // Incremental dedup: drop batch docs whose exact content already
    // exists in the standing corpus (corpus = doc_id%5==0, batch =
    // doc_id%3==0; they share the %15 docs). The corpus reduces to
    // DISTINCT 64-bit hashes, then a LEFT ANTI hash join — the batch is
    // never re-deduplicated against itself.
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactDedupAgainst(
          docs.where(col("doc_id") % 3 === 0),
          docs.where(col("doc_id") % 5 === 0), "text")
        .groupBy("lang")
        .agg(count(lit(1L)).as("n_kept"),
             sum(col("n_chars")).cast("long").as("kept_chars"))
        .orderBy("lang")
    }),

    // Multimodal metadata over binary columns: blobs synthesized from the
    // documents table with real magic bytes (deterministic by doc_id), then
    // sniffed/measured by the ACTUAL binary operators — format by magic,
    // byte length, content distinctness, PNG header geometry. The oracle
    // mirrors the synthesis rule; the engine side must recover it by
    // inspection.
    "mm_meta" -> ((s, dir) => {
      GraftFunctions.register(s)
      val pngHdr = lit(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
        0, 0, 0, 0x0D, 'I', 'H', 'D', 'R', 0, 0, 0, 0x40, 0, 0, 0, 0x20))
      // a REAL (headers-only) JPEG prefix: SOI + APP0/JFIF + SOF0 with
      // 8-bit precision, height 48, width 96, 1 component — the engine
      // side must recover the geometry by walking the markers
      val jpgHdr = lit(Array[Byte](
        0xFF.toByte, 0xD8.toByte, // SOI
        0xFF.toByte, 0xE0.toByte, 0x00, 0x10, 'J', 'F', 'I', 'F', 0x00,
        0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00, // APP0, len 16
        0xFF.toByte, 0xC0.toByte, 0x00, 0x0B, 0x08,
        0x00, 0x30, 0x00, 0x60, 0x01, 0x01, 0x11, 0x00)) // SOF0: h=48 w=96
      // a REAL (headers-only) WAV prefix: RIFF/WAVE with a LIST chunk
      // BEFORE `fmt ` — the engine side must walk the chunk list, a
      // fixed-offset read would land inside LIST. fmt: PCM, stereo,
      // 48000 Hz, 16-bit; then a data chunk header carrying the text.
      val wavHdr = lit(Array[Byte](
        'R', 'I', 'F', 'F', 0, 0, 0, 0, 'W', 'A', 'V', 'E',
        'L', 'I', 'S', 'T', 0x06, 0, 0, 0, 'I', 'N', 'F', 'O', 'a', 'b',
        'f', 'm', 't', ' ', 0x10, 0, 0, 0,
        0x01, 0x00, 0x02, 0x00, 0x80.toByte, 0xBB.toByte, 0x00, 0x00,
        0x00, 0xEE.toByte, 0x02, 0x00, 0x04, 0x00, 0x10, 0x00,
        'd', 'a', 't', 'a', 0, 0, 0, 0))
      val withBlob = t(s, dir, "documents").withColumn("blob",
        when(col("doc_id") % 4 === 0, concat(pngHdr, encode(col("text"), "UTF-8")))
          .when(col("doc_id") % 4 === 1, concat(jpgHdr, encode(col("text"), "UTF-8")))
          .when(col("doc_id") % 4 === 2, concat(wavHdr, encode(col("text"), "UTF-8")))
          .otherwise(encode(col("text"), "UTF-8")))
        .withColumn("format", MM.sniffFormat(col("blob"))) // computed ONCE per row
      withBlob
        .groupBy(col("format"))
        .agg(count(lit(1L)).as("n"),
             sum(MM.byteLength(col("blob"))).cast("long").as("total_bytes"),
             countDistinct(col("blob")).as("n_distinct"),
             coalesce(max(when(col("format") === "png",
               MM.pngWidth(col("blob")))), lit(-1)).as("png_w"),
             coalesce(max(when(col("format") === "png",
               MM.pngHeight(col("blob")))), lit(-1)).as("png_h"),
             coalesce(max(when(col("format") === "jpeg",
               MM.jpegWidth(col("blob")))), lit(-1)).as("jpg_w"),
             coalesce(max(when(col("format") === "jpeg",
               MM.jpegHeight(col("blob")))), lit(-1)).as("jpg_h"),
             coalesce(max(when(col("format") === "riff",
               MM.wavSampleRate(col("blob")))), lit(-1)).as("wav_rate"),
             coalesce(max(when(col("format") === "riff",
               MM.wavChannels(col("blob")))), lit(-1)).as("wav_ch"),
             coalesce(max(when(col("format") === "riff",
               MM.wavBitsPerSample(col("blob")))), lit(-1)).as("wav_bits"))
        .orderBy("format")
    }),

    // REAL PNG decode, oracle-checked: each doc_id becomes a genuine
    // deflate-compressed grayscale PNG (filters rotate 0-4 across rows)
    // whose pixel values follow an arithmetic rule; the engine must
    // recover width/height/sum/min/max by ACTUALLY decoding (zlib
    // inflate + per-filter reversal — PngCodec), and the oracle evaluates
    // the same rule arithmetically, no codec needed. A decoder bug in any
    // filter type corrupts px_sum and fails the hash match.
    // Audio-quality screen over REAL decoded PCM: clipping (|s| ≥ 2000)
    // and near-silent frames (Σs² < 8e7 per 64-sample frame) counted as
    // exact longs; the oracle recomputes every count from the fixture
    // sample rule — the standard reject signals of audio curation.
    "mm_audio_quality" -> ((s, dir) => {
      GraftFunctions.register(s)
      val st = GraftFunctions.wavQualityStats(
        GraftFunctions.wavPcmFixture(col("doc_id")),
        clipLevel = 2000, silenceEnergy = 80000000L, frameLen = 64)
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          element_at(col("st"), 1).as("n_samples"),
          element_at(col("st"), 2).as("n_clipped"),
          element_at(col("st"), 3).as("n_frames"),
          element_at(col("st"), 4).as("n_silent"))
        .withColumn("clip_share",
          round(col("n_clipped") / col("n_samples").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Laplacian variance-of-sharpness blur screen over the SAME
    // arithmetic PNG fixtures mm_decode proves: interior 4-neighbor
    // Laplacian moments come back as exact longs from the decoded
    // pixels; the oracle recomputes every Laplacian value from the
    // synthesis rule — a wrong filter reversal or stride anywhere in
    // the decode path shifts the integer sums.
    "mm_sharpness" -> ((s, dir) => {
      GraftFunctions.register(s)
      val st = GraftFunctions.pngSharpness(
        GraftFunctions.pngGrayFixture(col("doc_id"), 16, 8))
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          element_at(col("st"), 1).as("n_interior"),
          element_at(col("st"), 2).as("lap_sum"),
          element_at(col("st"), 3).as("lap_sumsq"))
        .withColumn("lap_var",
          round(col("lap_sumsq") / col("n_interior") -
            (col("lap_sum") / col("n_interior")) *
            (col("lap_sum") / col("n_interior")), 6))
        .orderBy("doc_id")
    }),

    // Real PNG decode over synthesized gray fixtures: pixel stats recomputed arithmetically by the oracle, every row must decode.
    "mm_decode" -> ((s, dir) => {
      GraftFunctions.register(s)
      val st = GraftFunctions.pngPixelStats(
        GraftFunctions.pngGrayFixture(col("doc_id"), 16, 8))
      // audio path: a REAL RIFF/WAVE (JUNK chunk before fmt) whose PCM
      // samples follow an arithmetic rule — wav_pcm_stats must walk the
      // container and decode the 16-bit data payload to match the
      // oracle's rule-evaluated amplitude moments
      val wst = GraftFunctions.wavPcmStats(
        GraftFunctions.wavPcmFixture(col("doc_id")))
      // jpeg path: a REAL Huffman-coded baseline JPEG whose 8×8 blocks
      // are constants under an arithmetic rule — constant blocks carry
      // only an exactly-representable DC coefficient, so the full
      // entropy-decode + dequant + IDCT pipeline must reproduce the
      // rule bit-for-bit for the stats to hash-match the oracle
      val jst = GraftFunctions.jpegPixelStats(
        GraftFunctions.jpegGrayFixture(col("doc_id"), 3, 2))
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), st.as("st"), wst.as("wst"), jst.as("jst"))
        .select(col("doc_id"),
          element_at(col("st"), 1).as("width"),
          element_at(col("st"), 2).as("height"),
          element_at(col("st"), 3).as("n_px"),
          element_at(col("st"), 4).as("px_sum"),
          element_at(col("st"), 5).as("px_min"),
          element_at(col("st"), 6).as("px_max"),
          element_at(col("wst"), 1).as("wav_rate"),
          element_at(col("wst"), 4).as("wav_n"),
          element_at(col("wst"), 5).as("wav_sum"),
          element_at(col("wst"), 6).as("wav_min"),
          element_at(col("wst"), 7).as("wav_max"),
          element_at(col("wst"), 8).as("wav_sumsq"),
          element_at(col("jst"), 1).as("jpg_w"),
          element_at(col("jst"), 2).as("jpg_h"),
          element_at(col("jst"), 3).as("jpg_n"),
          element_at(col("jst"), 4).as("jpg_sum"),
          element_at(col("jst"), 5).as("jpg_min"),
          element_at(col("jst"), 6).as("jpg_max"))
        .orderBy("doc_id")
    }),

    // COLOR decode under the correctness gate: a real interleaved-MCU
    // 4:4:4 baseline JPEG (Y/Cb/Cr constant-block rules, dual
    // quant/Huffman tables) must decode and color-convert to the RGB
    // the oracle derives arithmetically — FLOOR(x+0.5) clamped is
    // exactly Java's Math.round, and IEEE754 ops on identical literals
    // agree bit-for-bit across engines, so the sums compare exactly.
    "mm_color" -> ((s, dir) => {
      GraftFunctions.register(s)
      val st = GraftFunctions.jpegRgbStats(
        GraftFunctions.jpegColorFixture(col("doc_id"), 3, 2))
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"),
          element_at(col("st"), 1).as("width"),
          element_at(col("st"), 2).as("height"),
          element_at(col("st"), 3).as("n_px"),
          element_at(col("st"), 4).as("r_sum"),
          element_at(col("st"), 5).as("g_sum"),
          element_at(col("st"), 6).as("b_sum"))
        .orderBy("doc_id")
    }),

    // CHROMA-SUBSAMPLED decode under the correctness gate: real 4:2:0
    // (luma 2×2) and 4:2:2 (luma 2×1) baseline JPEGs — the profiles
    // real-world web JPEGs overwhelmingly use — with constant-block
    // rules per plane. Multi-block-per-MCU interleave, per-component
    // DC predictors and replication chroma upsampling must all be
    // right for the decoded RGB sums to match the oracle's arithmetic:
    // constant blocks decode exactly, replication keeps a chroma block
    // constant across its luma blocks, and FLOOR(x+0.5) clamped is
    // exactly Java's Math.round (the mm_color protocol).
    "mm_subsample" -> ((s, dir) => {
      GraftFunctions.register(s)
      val s420 = GraftFunctions.jpegRgbStats(
        GraftFunctions.jpegSubsampleFixture(col("doc_id"), 2, 2, 2, 2))
      val s422 = GraftFunctions.jpegRgbStats(
        GraftFunctions.jpegSubsampleFixture(col("doc_id"), 2, 2, 2, 1))
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), s420.as("a"), s422.as("b"))
        .select(col("doc_id"),
          element_at(col("a"), 1).as("w420"), element_at(col("a"), 2).as("h420"),
          element_at(col("a"), 3).as("n420"), element_at(col("a"), 4).as("r420"),
          element_at(col("a"), 5).as("g420"), element_at(col("a"), 6).as("b420"),
          element_at(col("b"), 1).as("w422"), element_at(col("b"), 2).as("h422"),
          element_at(col("b"), 3).as("n422"), element_at(col("b"), 4).as("r422"),
          element_at(col("b"), 5).as("g422"), element_at(col("b"), 6).as("b422"))
        .orderBy("doc_id")
    }),

    // PERCEPTUAL image dedup end-to-end: 40 structurally-distinct
    // band-limited images; every 4th id also appears as a genuinely
    // LOSSY JPEG re-encode (decode → FDCT → quantize → entropy code) at
    // id+1e6 and every 4th+1 as a 48×48 bilinear downscale at id+2e6 —
    // the two transforms a re-posted web image actually undergoes.
    // pHash (32×32 → DCT → 8×8 sign bits) must retrieve EVERY planted
    // pair at hamming ≤ 3 through the same 4×16-bit banding SimHash
    // uses (pigeonhole-exact at that radius), with zero false pairs
    // among distinct images (measured margin: planted ≤ 1 bit apart,
    // distinct ids ≥ 20). The verdict row is DuckDB-anchored on the
    // planted counts.
    "mm_phash" -> ((s, dir) => {
      GraftFunctions.register(s)
      val docs = t(s, dir, "documents").where(col("doc_id") < 40).select("doc_id")
      def noise = PHash.pngNoiseFixture(col("doc_id"), 64, 64)
      val base = docs.select(col("doc_id").as("img_id"), noise.as("img"))
      val jdup = docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("img_id"),
          PHash.pngToJpeg(noise, 12).as("img"))
      val rdup = docs.where(col("doc_id") % 4 === 1)
        .select((col("doc_id") + 2000000L).as("img_id"),
          GraftFunctions.pngResize(noise, 48, 48, bilinear = true).as("img"))
      val hashed = base.unionAll(jdup).unionAll(rdup)
        .select(col("img_id"), PHash.imagePHash(col("img")).as("ph"))
        .localCheckpoint(true) // hash once; read by pairs and 2 verdicts
      val pairs = Dedup.hammingNearDupPairs(hashed, "img_id", "ph",
          maxHamming = 3, nChunks = 4)
        .localCheckpoint(true) // tiny pair list; read by 3 verdicts
      hashed.agg(count(lit(1L)).as("n_images"))
        .crossJoin(docs.where(col("doc_id") % 4 === 0)
          .agg(count(lit(1L)).as("n_jpeg_planted")))
        .crossJoin(docs.where(col("doc_id") % 4 === 1)
          .agg(count(lit(1L)).as("n_resize_planted")))
        .crossJoin(pairs.where(col("id_b") === col("id_a") + 1000000L)
          .agg(count(lit(1L)).as("n_jpeg_found")))
        .crossJoin(pairs.where(col("id_b") === col("id_a") + 2000000L)
          .agg(count(lit(1L)).as("n_resize_found")))
        .crossJoin(pairs.where(col("id_b") =!= col("id_a") + 1000000L &&
            col("id_b") =!= col("id_a") + 2000000L)
          .agg(count(lit(1L)).as("n_fp")))
        .crossJoin(hashed.where(col("ph").isNull).agg(count(lit(1L)).as("n_null")))
        .select(col("n_images"), col("n_jpeg_planted"), col("n_resize_planted"),
          (col("n_jpeg_found") === col("n_jpeg_planted")).as("jpeg_recall_ok"),
          (col("n_resize_found") === col("n_resize_planted")).as("resize_recall_ok"),
          (col("n_fp") === lit(0L)).as("zero_fp_ok"),
          (col("n_null") === lit(0L)).as("all_decoded_ok"))
    }),

    // Seeded Rademacher random projection (JL): 64 → 16 dims as pure
    // deterministic hash arithmetic — no stored matrix, no RNG state;
    // the oracle recomputes every projected coordinate and the norm
    // ratio exactly against the sign matrix expanded as a literal
    // (itself a pure function of the seed).
    "sim_project" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") < 50)
      val proj = Similarity.randomProject(col("embedding"), outDim = 16)
      e.select(col("vec_id"), proj.as("p"),
          Similarity.l2Norm(col("embedding")).as("n0"))
        .select(col("vec_id"),
          round(element_at(col("p"), 1), 4).as("p0"),
          round(element_at(col("p"), 9), 4).as("p8"),
          round(Similarity.l2Norm(col("p")) / col("n0"), 4).as("norm_ratio"))
        .orderBy("vec_id")
    }),

    // INCREMENTAL perceptual-hash matching — batch vs standing index,
    // the image/audio sibling of dedup_incr_near: an arriving batch of
    // re-encoded (lossy JPEG) copies and FRESH images probes the
    // persisted (id, pHash) index; per-batch cost scales with the
    // batch, the index never recomputes. Planted re-encodes must match
    // their source at radius 3, fresh images must not match anything.
    "mm_phash_incr" -> ((s, dir) => {
      GraftFunctions.register(s)
      val docs = t(s, dir, "documents").where(col("doc_id") < 30).select("doc_id")
      def noise = PHash.pngNoiseFixture(col("doc_id"), 64, 64)
      val index = docs
        .select(col("doc_id").as("img_id"), PHash.imagePHash(noise).as("ph"))
        .localCheckpoint(true) // the standing index artifact
      val copies = docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("img_id"),
          PHash.imagePHash(PHash.pngToJpeg(noise, 12)).as("ph"))
      val fresh = docs.where(col("doc_id") < 10)
        .select((col("doc_id") + 3000000L).as("img_id"),
          PHash.imagePHash(
            PHash.pngNoiseFixture(col("doc_id") + 7000L, 64, 64)).as("ph"))
      val batch = copies.unionAll(fresh).localCheckpoint(true)
      val matches = graft.functions.Dedup.hammingNearDupAgainst(
          batch, index, "img_id", "ph", maxHamming = 3, nChunks = 4)
        .localCheckpoint(true)
      docs.agg(count(lit(1L)).as("n_index"))
        .crossJoin(batch.agg(count(lit(1L)).as("n_batch")))
        .crossJoin(docs.where(col("doc_id") % 3 === 0)
          .agg(count(lit(1L)).as("n_planted")))
        .crossJoin(matches.where(col("img_id") === col("index_id") + 1000000L)
          .agg(count(lit(1L)).as("n_found")))
        .crossJoin(matches.where(col("img_id") =!= col("index_id") + 1000000L)
          .agg(count(lit(1L)).as("n_fp")))
        .crossJoin(matches.where(col("img_id") >= 3000000L)
          .agg(count(lit(1L)).as("n_fresh_matched")))
        .select(col("n_index"), col("n_batch"), col("n_planted"),
          (col("n_found") === col("n_planted")).as("recall_ok"),
          (col("n_fp") === lit(0L)).as("zero_fp_ok"),
          (col("n_fresh_matched") === lit(0L)).as("fresh_clean_ok"))
    }),

    // VIDEO near-dup via frame-level perceptual hashing — the
    // shared-frame-evidence composition real pipelines use for trimmed
    // / re-posted clips: split each multi-frame container into frames
    // (chunk-walk framing), pHash every frame in-scan, find frame-level
    // near-dup pairs through the SAME banded Hamming join as image
    // dedup, then aggregate cross-video pair evidence — two videos are
    // near-dups when ≥3 of their frames match. Planted duplicates are
    // HEAD-TRIMMED copies (skip=1: the classic re-post transform) whose
    // surviving frames hash identically at shifted positions — position
    // plays no role in the match, only content does. Frame ids pack as
    // vid·64 + pos so one banding join serves all videos.
    // Animated GIF decode end-to-end: real LZW streams (genuinely
    // compressed, interlaced odd frames) decoded through the full
    // palette pipeline; the oracle recomputes every frame's pixel sum
    // from the arithmetic fixture rule with no codec. GifSpec pins the
    // LZW bit conventions against a hand-assembled stream and fuzzes
    // never-throw; gif_frame_split bridges animations into the same
    // per-frame pHash pipeline mm_video_dedup exercises.
    "mm_gif" -> ((s, dir) => {
      GraftFunctions.register(s)
      val docs = t(s, dir, "documents").where(col("doc_id") < 60).select("doc_id")
      docs.select(col("doc_id"),
          GraftFunctions.gifFrameStats(
            GraftFunctions.gifGrayFixture(col("doc_id"), 16, 8)).as("st"))
        .agg(
          count(lit(1L)).as("n_gifs"),
          sum(element_at(col("st"), 1)).as("frames_total"),
          sum(element_at(col("st"), 4)).as("samples_total"),
          sum(element_at(col("st"), 5)).as("rgb_sum"),
          min(element_at(col("st"), 6)).as("sample_min"),
          max(element_at(col("st"), 7)).as("sample_max"),
          (count(when(col("st").isNull, 1)) === 0).as("all_decoded_ok"))
    }),

    // REAL video container end-to-end: MJPEG AVI fixtures (genuine RIFF
    // hdrl/strl/movi structure wrapping genuine Huffman-coded baseline
    // JPEG frames) → header parse → frame split → full JPEG decode per
    // frame. The oracle recomputes every decoded pixel from the
    // arithmetic constant-block rule (frame f, block k of doc id ⇒
    // ((id·1000+f)·31 + k·7) mod 256) with no codec; geometry/fps
    // verdicts pin the avih header fields.
    "mm_avi" -> ((s, dir) => {
      GraftFunctions.register(s)
      val docs = t(s, dir, "documents").where(col("doc_id") < 40).select("doc_id")
      val avis = docs.select(col("doc_id"),
        GraftFunctions.aviMjpegFixture(col("doc_id"), 4, 2, 6).as("avi"))
      val frames = avis.select(col("doc_id"),
          GraftFunctions.aviInfo(col("avi")).as("info"),
          posexplode(GraftFunctions.aviFrameSplit(col("avi"))).as(Seq("pos", "frame")))
        .select(col("doc_id"), col("info"), col("pos"),
          GraftFunctions.jpegPixelStats(col("frame")).as("st"))
      frames.agg(
        countDistinct(col("doc_id")).as("n_avis"),
        count(lit(1L)).as("frames_total"),
        sum(element_at(col("st"), 3)).as("samples_total"),
        sum(element_at(col("st"), 4)).as("px_sum"),
        (count(when(col("info").isNull ||
          element_at(col("info"), 1) =!= 32 ||
          element_at(col("info"), 2) =!= 16 ||
          element_at(col("info"), 3) =!= 6 ||
          element_at(col("info"), 5) =!= 1, 1)) === 0).as("geometry_ok"),
        (count(when(element_at(col("info"), 4) =!= 40000, 1)) === 0).as("fps_ok"),
        (count(when(col("st").isNull, 1)) === 0).as("all_decoded_ok"))
    }),

    // MJPEG AVI near-dup: per-video frame pHashes bridged to Hamming matching - the video twin of image near-dup.
    "mm_video_dedup" -> ((s, dir) => {
      GraftFunctions.register(s)
      val docs = t(s, dir, "documents").where(col("doc_id") < 30).select("doc_id")
      val base = docs.select(col("doc_id").as("vid_id"),
        PHash.pngNoiseFramesFixture(col("doc_id"), 32, 32).as("video"))
      val tdup = docs.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("vid_id"),
          PHash.pngNoiseFramesFixture(col("doc_id"), 32, 32, skip = 1).as("video"))
      val frames = base.unionAll(tdup)
        .select(col("vid_id"),
          posexplode(GraftFunctions.pngFrameSplit(col("video"))).as(Seq("pos", "frame")))
        .select((col("vid_id") * 64 + col("pos")).as("fid"),
          PHash.imagePHash(col("frame")).as("ph"))
        .localCheckpoint(true) // hash every frame once
      val framePairs = Dedup.hammingNearDupPairs(frames, "fid", "ph",
        maxHamming = 3, nChunks = 4)
      // trimmed-copy ids offset by 1e6 ⇒ packed fids by 64e6: integer
      // division recovers the video id on each side
      val vpairs = framePairs
        .select(floor(col("id_a") / 64).as("vid_a"), floor(col("id_b") / 64).as("vid_b"))
        .where(col("vid_a") =!= col("vid_b"))
        .groupBy("vid_a", "vid_b").agg(count(lit(1L)).as("shared_frames"))
        .where(col("shared_frames") >= 3)
        .localCheckpoint(true) // tiny; read by two verdicts
      docs.agg(count(lit(1L)).as("n_videos"))
        .crossJoin(frames.agg(count(lit(1L)).as("n_frames")))
        .crossJoin(docs.where(col("doc_id") % 3 === 0)
          .agg(count(lit(1L)).as("n_planted")))
        .crossJoin(vpairs.where(col("vid_b") === col("vid_a") + 1000000L)
          .agg(count(lit(1L)).as("n_found")))
        .crossJoin(vpairs.where(col("vid_b") =!= col("vid_a") + 1000000L)
          .agg(count(lit(1L)).as("n_fp")))
        .crossJoin(frames.where(col("ph").isNull).agg(count(lit(1L)).as("n_null")))
        .select(col("n_videos"), col("n_frames"), col("n_planted"),
          (col("n_found") === col("n_planted")).as("trimmed_recall_ok"),
          (col("n_fp") === lit(0L)).as("zero_fp_ok"),
          (col("n_null") === lit(0L)).as("all_decoded_ok"))
    }),

    // PERCEPTUAL audio dedup end-to-end (Haitsma–Kalker 2002): 40
    // structurally-distinct melody clips; every 4th id also appears
    // volume-halved at id+1e6 and every 4th+1 requantized to 8-bit
    // depth at id+2e6 — the two transforms a re-encoded audio copy
    // actually undergoes, applied by REAL decode→transform→re-emit
    // expressions. The double-difference fingerprint cancels loudness
    // by construction, so planted pairs sit ≤3 Hamming bits apart
    // (measured; distinct ids ≥5) and the banded verify at radius 4
    // (5 chunks — pigeonhole-exact) must retrieve every planted pair
    // with zero false pairs.
    "dedup_audio" -> ((s, dir) => {
      GraftFunctions.register(s)
      val docs = t(s, dir, "documents").where(col("doc_id") < 40).select("doc_id")
      def melody = GraftFunctions.wavMelodyFixture(col("doc_id"))
      val base = docs.select(col("doc_id").as("clip_id"), melody.as("wav"))
      val vdup = docs.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("clip_id"),
          GraftFunctions.wavScaleAmplitude(melody, 1, 2).as("wav"))
      val qdup = docs.where(col("doc_id") % 4 === 1)
        .select((col("doc_id") + 2000000L).as("clip_id"),
          GraftFunctions.wavRequantize(melody, 8).as("wav"))
      val hashed = base.unionAll(vdup).unionAll(qdup)
        .select(col("clip_id"), GraftFunctions.wavAudioFingerprint(col("wav")).as("fp"))
        .localCheckpoint(true) // fingerprint once; read by pairs + verdicts
      val pairs = Dedup.hammingNearDupPairs(hashed, "clip_id", "fp",
          maxHamming = 4, nChunks = 5)
        .localCheckpoint(true) // tiny pair list; read by 3 verdicts
      hashed.agg(count(lit(1L)).as("n_clips"))
        .crossJoin(docs.where(col("doc_id") % 4 === 0)
          .agg(count(lit(1L)).as("n_vol_planted")))
        .crossJoin(docs.where(col("doc_id") % 4 === 1)
          .agg(count(lit(1L)).as("n_rq_planted")))
        .crossJoin(pairs.where(col("id_b") === col("id_a") + 1000000L)
          .agg(count(lit(1L)).as("n_vol_found")))
        .crossJoin(pairs.where(col("id_b") === col("id_a") + 2000000L)
          .agg(count(lit(1L)).as("n_rq_found")))
        .crossJoin(pairs.where(col("id_b") =!= col("id_a") + 1000000L &&
            col("id_b") =!= col("id_a") + 2000000L)
          .agg(count(lit(1L)).as("n_fp")))
        .crossJoin(hashed.where(col("fp").isNull).agg(count(lit(1L)).as("n_null")))
        .select(col("n_clips"), col("n_vol_planted"), col("n_rq_planted"),
          (col("n_vol_found") === col("n_vol_planted")).as("vol_recall_ok"),
          (col("n_rq_found") === col("n_rq_planted")).as("rq_recall_ok"),
          (col("n_fp") === lit(0L)).as("zero_fp_ok"),
          (col("n_null") === lit(0L)).as("all_fingerprinted_ok"))
    }),

    // Resize under the correctness gate: decode → kernel → RE-ENCODE as a
    // real PNG → decode again for stats, so a bug anywhere in the chain
    // corrupts the numbers. Two kernels, two geometries: bilinear 2×
    // downscale (every tap weighs 1/4 — all dyadic rationals, so the
    // IEEE-754 result is bit-exact reproducible in DuckDB) and
    // nearest-neighbor 1.5× upscale (the half-pixel source map is pure
    // integer division, reproducible with // alone).
    "mm_resize" -> ((s, dir) => {
      GraftFunctions.register(s)
      val src = GraftFunctions.pngGrayFixture(col("doc_id"), 16, 8)
      val bi = GraftFunctions.pngPixelStats(
        GraftFunctions.pngResize(src, 8, 4, bilinear = true))
      val nn = GraftFunctions.pngPixelStats(
        GraftFunctions.pngResize(src, 24, 12, bilinear = false))
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), bi.as("b"), nn.as("n"))
        .select(col("doc_id"),
          element_at(col("b"), 1).as("bi_w"), element_at(col("b"), 2).as("bi_h"),
          element_at(col("b"), 4).as("bi_sum"),
          element_at(col("b"), 5).as("bi_min"), element_at(col("b"), 6).as("bi_max"),
          element_at(col("n"), 1).as("nn_w"), element_at(col("n"), 2).as("nn_h"),
          element_at(col("n"), 4).as("nn_sum"),
          element_at(col("n"), 5).as("nn_min"), element_at(col("n"), 6).as("nn_max"))
        .orderBy("doc_id")
    }),

    // Frame sampling from a multi-frame container: chunk-walk split into
    // per-frame blobs (variable frame count by doc), every-2nd-frame
    // sampling as a declarative position predicate on posexplode, REAL
    // per-frame decode for the stats. The oracle replays the per-frame
    // arithmetic rule over the same sampled positions.
    "mm_frames" -> ((s, dir) => {
      GraftFunctions.register(s)
      val frames = GraftFunctions.pngFrameSplit(
        GraftFunctions.pngFramesFixture(col("doc_id"), 8, 4))
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), frames.as("frames"))
        .select(col("doc_id"), size(col("frames")).cast("long").as("n_frames"),
          posexplode(col("frames")).as(Seq("pos", "frame")))
        .where(col("pos") % 2 === 0)
        .select(col("doc_id"), col("n_frames"),
          GraftFunctions.pngPixelStats(col("frame")).as("st"))
        .groupBy("doc_id", "n_frames")
        .agg(count(lit(1L)).as("n_sampled"),
          sum(element_at(col("st"), 4)).as("px_sum"),
          min(element_at(col("st"), 5)).as("px_min"),
          max(element_at(col("st"), 6)).as("px_max"))
        .orderBy("doc_id")
    }),

    // Windowed audio features over DECODED PCM: non-overlapping frame
    // energies (voice-activity primitive) and whole-signal zero-crossing
    // count (voicing primitive) — exact integer arithmetic end to end,
    // so the oracle evaluates the sample rule and matches bit-for-bit.
    // Windowed time-domain features PLUS spectral features. The FFT path
    // is oracle-EXACT through Parseval: Σ|X_k|² per unnormalized-DFT
    // frame equals frameLen·Σx², so DuckDB recomputes the engine's
    // spectral total from the integer sample rule with no FFT (the
    // float error is orders of magnitude under the 0.5 rounding margin).
    // The planted pure tone at integer bin 3+(doc_id%8) must come back
    // as the measured argmax bin — DuckDB recomputes the expected bin
    // arithmetically — and carry ≥90% of one-sided non-DC energy.
    "mm_audio" -> ((s, dir) => {
      GraftFunctions.register(s)
      val ast = GraftFunctions.wavFrameStats(
        GraftFunctions.wavPcmFixture(col("doc_id")), 64)
      val sp = GraftFunctions.wavSpectralStats(
        GraftFunctions.wavPcmFixture(col("doc_id")), 64, 8)
      val tone = GraftFunctions.wavSpectralStats(
        GraftFunctions.wavToneFixture(col("doc_id")), 256, 8)
      t(s, dir, "documents").where(col("doc_id") < 50)
        .select(col("doc_id"), ast.as("a"), sp.as("sp"), tone.as("tn"))
        .select(col("doc_id"),
          element_at(col("a"), 1).as("n_frames"),
          element_at(col("a"), 2).as("zero_crossings"),
          element_at(col("a"), 3).as("energy_max"),
          element_at(col("a"), 4).as("energy_min"),
          element_at(col("sp"), 2).as("spec_total"),
          element_at(col("tn"), 3).as("tone_peak_bin"),
          (element_at(col("tn"), 4) >= 90).as("tone_dominant_ok"))
        .orderBy("doc_id")
    }),

    // Embedding-cosine near-dup: vectors whose cosine exceeds 0.99 are
    // duplicates. Candidates from the skew-capped LSH self-join (never
    // all-pairs) in THRESHOLD mode — every candidate pair at or above the
    // cutoff survives. Made oracle-VISIBLE: the corpus carries planted
    // clones (every vec_id%100<2 duplicated at id+1000000 — the natural
    // corpus has no pair near 0.99, verified, so the plant is the signal),
    // the engine computes the exact all-pairs ground truth on the same
    // augmented corpus (deliberate O(n²) audit baseline; the scale path
    // is the LSH join) and emits the exact count (DuckDB recomputes it),
    // the false-positive count (provably 0 — ANN candidates are scored by
    // the same exact cosine) and a recall >= 90% verdict.
    "dedup_embed" -> ((s, dir) => {
      // bounded audit slice, same discipline as dedup_minhash/sim_ann:
      // the exact all-pairs baseline must never grow quadratically with
      // the corpus — the scale path under audit is the LSH join
      val emb = t(s, dir, "embeddings").where(col("vec_id") < 1000)
        .select("vec_id", "embedding")
      val aug = emb
        .union(emb.where(col("vec_id") % 100 < 2)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .localCheckpoint(true) // small vector slice, read by both pair paths
      val ann = Similarity.annSelfJoin(aug, "vec_id", "embedding",
          numPlanes = 8, k = 10, minCos = Some(0.99))
        .where(col("id_a") < col("id_b")).select("id_a", "id_b")
      val exact = aug.toDF("id_a", "vec_a")
        .join(aug.toDF("id_b", "vec_b"), col("id_a") < col("id_b"))
        .where(GraftFunctions.cosineSim(col("vec_a"), col("vec_b")) >= 0.99)
        .select("id_a", "id_b")
        .localCheckpoint(true)
      exact.agg(count(lit(1L)).as("n_exact"))
        .crossJoin(ann.join(exact, Seq("id_a", "id_b"), "left_anti")
          .agg(count(lit(1L)).as("n_false")))
        .crossJoin(ann.join(exact, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1L)).as("n_hit")))
        .select(col("n_exact"), col("n_false"),
          (col("n_hit") * 100 >= col("n_exact") * 90).as("recall_ok"))
    }),

    // SemDeDup-style semantic dedup end to end: embedding near-dup PAIRS
    // (skew-capped LSH, threshold mode) → connected components → keep one
    // representative per cluster. Made oracle-VISIBLE: the same planted
    // clones as dedup_embed, the exact-pair-graph variant of the whole
    // composition computed in-engine (its kept set is DuckDB-recomputable
    // via recursive transitive closure) and a verdict that the ANN-driven
    // kept set IS the exact kept set (clone recall at cos≈1.0 makes the
    // sets deterministically identical).
    "dedup_semantic" -> ((s, dir) => {
      // bounded audit slice — see dedup_embed
      val emb = t(s, dir, "embeddings").where(col("vec_id") < 1000)
        .select("vec_id", "embedding")
      val aug = emb
        .union(emb.where(col("vec_id") % 100 < 2)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .localCheckpoint(true)
      val annPairs = Similarity.annSelfJoin(aug, "vec_id", "embedding",
        numPlanes = 8, k = 10, minCos = Some(0.99))
      val exactPairs = aug.toDF("id_a", "vec_a")
        .join(aug.toDF("id_b", "vec_b"), col("id_a") < col("id_b"))
        .where(GraftFunctions.cosineSim(col("vec_a"), col("vec_b")) >= 0.99)
        .select("id_a", "id_b")
      val keptAnn = Clusters.dropNearDupMembers(aug, "vec_id", annPairs)
        .select("vec_id").localCheckpoint(true)
      val keptExact = Clusters.dropNearDupMembers(aug, "vec_id", exactPairs)
        .select("vec_id").localCheckpoint(true)
      keptExact.agg(count(lit(1L)).as("n_kept"),
          sum(col("vec_id")).cast("long").as("kept_id_sum"))
        .crossJoin(keptAnn.join(keptExact, Seq("vec_id"), "left_anti")
          .agg(count(lit(1L)).as("n_only_ann")))
        .crossJoin(keptExact.join(keptAnn, Seq("vec_id"), "left_anti")
          .agg(count(lit(1L)).as("n_only_exact")))
        .select(col("n_kept"), col("kept_id_sum"),
          (col("n_only_ann") === 0 && col("n_only_exact") === 0)
            .as("ann_matches_exact"))
    }),

    // Mean-pooled centroid per group (mod-5 buckets stand in for real
    // cluster/source groups): dimension count and centroid L2 norm.
    // Per-position averages mirror exactly in DuckDB; 6-dp rounding
    // absorbs summation-order differences.
    "sim_centroid" -> ((s, dir) =>
      Similarity.groupCentroids(
          t(s, dir, "embeddings").withColumn("g", col("vec_id") % 5),
          "g", "embedding")
        .select(col("g"),
          size(col("centroid")).as("dim"),
          round(Similarity.l2Norm(col("centroid")), 6).as("centroid_norm"))
        .orderBy("g")),

    // Int8 quantization round-trip: the 4× storage/shuffle compression
    // for embedding corpora. Per mod-5 group: max |q| (must be ≤ 127),
    // average scale, average relative L2 reconstruction error. Pure
    // per-row Column algebra; the oracle recomputes the same math over
    // DuckDB lists.
    "sim_quantize" -> ((s, dir) => {
      val qz = t(s, dir, "embeddings")
        .withColumn("g", col("vec_id") % 5)
        .withColumn("qs", Similarity.quantizeInt8(col("embedding")))
      val deq = Similarity.dequantizeInt8(col("qs.q"), col("qs.scale"))
      val relErr = sqrt(aggregate(zip_with(col("embedding"), deq,
          (v, d) => pow(v.cast("double") - d, 2)), lit(0.0), (a, x) => a + x)) /
        Similarity.l2Norm(col("embedding"))
      qz.select(col("g"),
          array_max(transform(col("qs.q"), x => abs(x))).as("maxq"),
          col("qs.scale").as("scale"), relErr.as("rel_err"))
        .groupBy("g")
        .agg(max(col("maxq")).as("max_abs_q"),
             round(avg(col("scale")), 6).as("avg_scale"),
             round(avg(col("rel_err")), 6).as("avg_rel_err"))
        .orderBy("g")
    }),

    // Brute-force cosine kNN: 5 query vectors vs the corpus, top-5 each.
    "sim_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceKnn(emb, "vec_id", "embedding", q, "qid", "qvec", 5)
        .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
        .orderBy("qid", "rank")
    }),

    // IVF kNN: Voronoi-cell index (bounded-sample local k-means++, the
    // same one-sampling-job protocol as PQ), probe the 4 nearest of 16 cells per
    // query. Made oracle-VISIBLE: the corpus carries a planted clone of
    // every query vector (identical embedding ⇒ same cell ⇒ must be
    // retrieved at rank 1 — the retrieval regime the index exists for),
    // and the engine computes the brute-force exact top-5 on the same
    // augmented corpus (DuckDB recomputes its count and min cosine). Two
    // verdicts: every planted clone found, and overall recall@5 at least
    // double the 25% random-probe baseline (nProbe/nLists = 4/16) —
    // the Voronoi-cell locality must actually buy something.
    "sim_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val aug = emb
        .union(emb.where(col("vec_id") < 5)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .localCheckpoint(true)
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val ivf = Ivf.ivfKnn(aug, "vec_id", "embedding", q, "qid", "qvec", k = 5,
          nLists = 16, nProbe = 4)
        .select(col("qid"), col("vec_id").as("nid"))
        .localCheckpoint(true) // tiny top-k; read by 2 verdicts
      val bf = Similarity.bruteForceKnn(aug, "vec_id", "embedding",
          q, "qid", "qvec", 5)
        .select(col("qid"), col("vec_id").as("nid"), col("cos"))
        .localCheckpoint(true) // tiny top-k; read by the agg + the overlap
      bf.agg(count(lit(1L)).as("n_bf"), min(col("cos")).as("bf_min_cos"))
        .crossJoin(q.agg(count(lit(1L)).as("n_queries")))
        .crossJoin(ivf.join(bf.select("qid", "nid"), Seq("qid", "nid"), "left_semi")
          .agg(count(lit(1L)).as("n_hit")))
        .crossJoin(ivf.where(col("nid") === col("qid") + 1000000L)
          .agg(count(lit(1L)).as("n_clone_hit")))
        .select(col("n_bf"), col("bf_min_cos"), col("n_queries"),
          (col("n_clone_hit") === col("n_queries")).as("clones_found_ok"),
          (col("n_hit") * 100 >= col("n_bf") * 50).as("recall_ok"))
    }),

    // IVF nProbe recall sweep — the tuning table an ANN deployment
    // reads before picking its recall/cost point. Probe prefixes are
    // NESTED (same centroid ranking, top-p cut), so with the shared
    // deterministic (rounded cos, id) total order recall is PROVABLY
    // monotone in nProbe, and probing all nLists cells must reproduce
    // the brute-force top-k exactly — both verdicts in-row per sweep
    // point; n_queries/n_bf anchor to the DuckDB brute-force.
    "sim_ivf_sweep" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val aug = emb
        .union(emb.where(col("vec_id") < 5)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .localCheckpoint(true)
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .localCheckpoint(true)
      val bf = Similarity.bruteForceKnn(aug, "vec_id", "embedding",
          q, "qid", "qvec", 5)
        .select(col("qid"), col("vec_id").as("nid"))
        .localCheckpoint(true) // tiny top-k; probed once per sweep point
      val nBf = bf.count()
      val nQ = q.count()
      val hits = Seq(1, 4, 16).map { p =>
        p -> Ivf.ivfKnn(aug, "vec_id", "embedding", q, "qid", "qvec",
            k = 5, nLists = 16, nProbe = p)
          .select(col("qid"), col("vec_id").as("nid"))
          .join(bf, Seq("qid", "nid"), "left_semi").count()
      }
      val rows = hits.zip(Long.MinValue +: hits.map(_._2)).map {
        case ((p, h), prev) => (p, nQ, nBf, h >= prev, p != 16 || h == nBf)
      }
      rows.toDF("nprobe", "n_queries", "n_bf", "monotone_ok",
          "full_recall_ok")
        .orderBy("nprobe")
    }),

    // SemDedup (Abbas et al. 2023): k-means cells bound the cosine
    // screen to within-cell pairs — Σ|cell|² work instead of n², the
    // embedding-space analogue of MinHash banding. Oracle-VISIBLE the
    // same way as sim_ivf: 10 planted exact clones (identical vector ⇒
    // identical cell under the deterministic argmin ⇒ cos 1.0 with a
    // smaller id) must ALL be dropped; no dropped id may lack a real
    // smaller-id neighbour at the threshold anywhere in the corpus
    // (subset-of-global-truth is structural — certified here); ≥90% of
    // the audited keep-min-id duplicate set must be caught (what cell
    // partitioning trades away).
    //
    // Truth-audit cost is DECOUPLED from engine cost (r16 — the r15
    // sf1 anchor read 141-165s, ~all of it the audit's 200M-pair
    // cartesian, conflating audit wall with semDedupDropIds cost):
    //   - recall truth (all-pairs by design) recomputes on a
    //     deterministic id-hash subset of ≤ ~4096 rows (planted clones
    //     + originals always in) once n exceeds the cap, so it is
    //     ≤ ~cap² pairs at ANY scale; below the cap — including the
    //     sf0.01 oracle run and the sf0.1 bench — the subset is the
    //     whole corpus and every verdict value is unchanged;
    //   - the no-false-drop certificate checks each audited DROPPED id
    //     against the FULL corpus via a broadcast of the (small) drop
    //     list — O(|dropped|·n), the bruteForceKnn shape, never n².
    // nClusters derives from corpus size (the paper's n/10⁴ convention
    // rescaled to hold E|cell| ≈ 250): 8 at sf0.01/sf0.1 (oracle and
    // bench continuity — same value as the former literal), 80 at sf1.
    "sim_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val aug = emb
        .union(emb.where(col("vec_id") < 10)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .localCheckpoint(true) // read by train/assign + the truth pass
      val n = aug.count()
      // n/250 holds E|cell| ≈ 250 (the paper's convention rescaled);
      // the 512 cap bounds the DRIVER-side k-means (k centroids ×
      // sample × 5 Lloyd iterations is single-threaded) — beyond it
      // E|cell| grows again but maxCell's sub-splitting keeps pair
      // work O(maxCell·n) regardless
      val dropped = Similarity.semDedupDropIds(aug, "vec_id", "embedding",
          nClusters = math.min(512, math.max(8, (n / 250L).toInt)),
          minCos = 0.995, seed = 42L)
        .localCheckpoint(true) // tiny id list; read by 3 verdicts
      val auditCap = 4096L
      // the planted-clone guard must name the EXACT clone id band
      // [1e6, 1e6+10): a bare `>= 1e6` also matches every key-offset
      // replica id (≥ 1e7) at sf1+, silently un-capping the audit
      val planted = col("vec_id") < 10 ||
        (col("vec_id") >= 1000000L && col("vec_id") < 1000010L)
      val audited = (if (n <= auditCap) aug
        else aug.where(planted || pmod(xxhash64(col("vec_id")),
          lit(math.ceil(n.toDouble / auditCap).toLong)) === 0))
        .localCheckpoint(true) // ≤ ~auditCap rows; read by truth passes
      val gdup = audited.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        .join(broadcast(audited.select(col("vec_id").as("id_b"), col("embedding").as("vb"))),
          col("id_a") < col("id_b"))
        .where(round(GraftFunctions.cosineSim(col("va"), col("vb")), 4) >= 0.995)
        .select(col("id_b").as("vec_id")).distinct()
        .localCheckpoint(true) // tiny id list; read by 2 verdicts
      // audited drops, certified against the WHOLE corpus (a dropped id
      // outside the subset is simply not audited; below the caps this
      // is exactly the old global check). The certificate is
      // O(|checked drops|·n), so the checked set is ALSO hash-capped at
      // 512 once it exceeds that — at sf10 the uncapped certificate was
      // ~810M pairs (4k audited drops × 200k corpus), about half the
      // row's wall (bench_history/sf10_probe_20260817_001700.json)
      val dcheckAll = audited.join(dropped, Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        .localCheckpoint(true) // ≤ ~auditCap rows; counted then probed
      val nd = dcheckAll.count()
      val dcheck = if (nd <= 512) dcheckAll
        else dcheckAll.where(pmod(xxhash64(col("id_b")),
          lit(math.ceil(nd / 512.0).toLong)) === 0)
      val certified = aug.select(col("vec_id").as("id_a"), col("embedding").as("va"))
        .join(broadcast(dcheck), col("id_a") < col("id_b"))
        .where(round(GraftFunctions.cosineSim(col("va"), col("vb")), 4) >= 0.995)
        .select(col("id_b").as("vec_id")).distinct()
      aug.agg(count(lit(1L)).as("n_in"))
        .crossJoin(gdup.agg(count(lit(1L)).as("n_gdup")))
        .crossJoin(dropped.where(col("vec_id") >= 1000000L &&
            col("vec_id") < 1000010L) // the clone band, NOT bare >= 1e6
          .agg(count(lit(1L)).as("n_clone_drop")))
        .crossJoin(dcheck.select(col("id_b").as("vec_id"))
          .join(certified, Seq("vec_id"), "left_anti")
          .agg(count(lit(1L)).as("n_false")))
        .crossJoin(dropped.join(gdup, Seq("vec_id"), "left_semi")
          .agg(count(lit(1L)).as("n_caught")))
        .select(col("n_in"), col("n_gdup"),
          (col("n_clone_drop") === 10L).as("clones_dropped_ok"),
          (col("n_false") === 0L).as("no_false_drop_ok"),
          (col("n_caught") * 100 >= col("n_gdup") * 90).as("recall_ok"))
    }),

    // Product-quantization ADC kNN: corpus vectors compress 32× into
    // m=8 codes, queries precompute centroid-distance tables, candidates
    // cost m lookups (Jégou et al. 2011). Made oracle-VISIBLE like
    // sim_ivf: planted clones (identical vector ⇒ identical codes ⇒ ADC
    // distance = the query's own quantization error, far below random
    // neighbors on this corpus) must come back at rank 1; average
    // reconstruction cosine must clear 0.5 (measured ~0.67); brute-force
    // top-5 on the same augmented corpus anchors the row to
    // DuckDB-recomputable values.
    "sim_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val aug = emb
        .union(emb.where(col("vec_id") < 5)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .localCheckpoint(true) // read by train, encode, kNN and recon
      val cb = Pq.train(aug, "embedding", m = 8, ksub = 16, seed = 42L)
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val pq = Pq.pqKnn(aug, "vec_id", "embedding", q, "qid", "qvec", k = 5, cb)
        .select(col("qid"), col("vec_id").as("nid"), col("rank"))
        .localCheckpoint(true) // tiny top-k
      val bf = Similarity.bruteForceKnn(aug, "vec_id", "embedding",
          q, "qid", "qvec", 5)
        .select(col("qid"), col("vec_id").as("nid"), col("cos"))
      val recon = aug.select(avg(GraftFunctions.cosineSim(col("embedding"),
        Pq.decode(Pq.encode(col("embedding"), cb), cb))).as("avg_recon"))
      bf.agg(count(lit(1L)).as("n_bf"), min(col("cos")).as("bf_min_cos"))
        .crossJoin(q.agg(count(lit(1L)).as("n_queries")))
        .crossJoin(pq.where(col("nid") === col("qid") + 1000000L && col("rank") === 1)
          .agg(count(lit(1L)).as("n_clone_top")))
        .crossJoin(recon)
        .select(col("n_bf"), col("bf_min_cos"), col("n_queries"),
          (col("n_clone_top") === col("n_queries")).as("clones_rank1_ok"),
          (col("avg_recon") > 0.5).as("recon_ok"))
    }),

    // IVFADC (Jégou et al. 2011 §IV): coarse cells route queries, PQ
    // codes of the CELL RESIDUAL answer them — the billion-vector
    // composition where both the scanned fraction (nProbe/nLists) and
    // the per-candidate cost (m lookups over 32×-compressed codes) are
    // cut at once. Oracle-VISIBLE like sim_pq: planted clones must come
    // back at rank 1 (identical vector → same cell, same codes → its
    // ADC distance is the query's own residual quantization error); the
    // probed cells must cover a strict minority of (query, cell) space
    // (the pruning IVF exists for — deterministic under the fixed seed);
    // brute-force top-5 anchors the row to DuckDB-recomputable values.
    "sim_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val aug = emb
        .union(emb.where(col("vec_id") < 5)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .localCheckpoint(true) // read by train, encode and brute force
      val ix = IvfPq.train(aug, "embedding", nLists = 16, m = 8, ksub = 16, seed = 42L)
      val index = IvfPq.encodeIndex(aug, "vec_id", "embedding", ix)
        .localCheckpoint(true) // read by the search and the cell sizes
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val knn = IvfPq.search(index, "vec_id", ix, q, "qid", "qvec", k = 5, nProbe = 4)
        .select(col("qid"), col("vec_id").as("nid"), col("rank"))
        .localCheckpoint(true) // tiny top-k
      val bf = Similarity.bruteForceKnn(aug, "vec_id", "embedding",
          q, "qid", "qvec", 5)
        .select(col("qid"), col("vec_id").as("nid"), col("cos"))
      val scanned = IvfPq.probedLists(ix, q, "qid", "qvec", nProbe = 4)
        .join(index.groupBy("list").agg(count(lit(1L)).as("n")), "list")
        .agg(sum("n").as("n_scanned"))
      bf.agg(count(lit(1L)).as("n_bf"), min(col("cos")).as("bf_min_cos"))
        .crossJoin(q.agg(count(lit(1L)).as("n_queries")))
        .crossJoin(aug.agg(count(lit(1L)).as("n_corpus")))
        .crossJoin(knn.where(col("nid") === col("qid") + 1000000L && col("rank") === 1)
          .agg(count(lit(1L)).as("n_clone_top")))
        .crossJoin(scanned)
        .select(col("n_bf"), col("bf_min_cos"), col("n_queries"), col("n_corpus"),
          (col("n_clone_top") === col("n_queries")).as("clones_rank1_ok"),
          (col("n_scanned") * 2 < col("n_queries") * col("n_corpus")).as("pruning_ok"))
    }),

    // INCREMENTAL IVFADC: the arriving-batch protocol. The standing
    // index is written as a parquet artifact partitioned by list; the
    // batch (clones of the 5 probe vectors) is encoded with the SAME
    // trained Index — no retraining — and appended by list partition
    // (only arriving cells' partitions gain files). Search over the
    // read-back index must find every planted clone at rank 1 (same
    // cell, same codes ⇒ ADC distance is the query's own residual
    // quantization error), the corpus rows must survive the round trip
    // byte-identically, and each query's top-k must still span the OLD
    // corpus — proving one search covers old + new without re-encoding
    // anything.
    "sim_ivfpq_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        .localCheckpoint(true) // read by train, two encodes, and queries
      val ix = IvfPq.train(emb, "embedding", nLists = 16, m = 8, ksub = 16, seed = 42L)
      val index = IvfPq.encodeIndex(emb, "vec_id", "embedding", ix)
        .localCheckpoint(true) // read by the write and the preserved join
      val idxDir = java.nio.file.Files.createTempDirectory("ivfpq_index").toString
      index.write.mode("overwrite").partitionBy("list").parquet(idxDir)
      val batch = emb.where(col("vec_id") < 5)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      IvfPq.encodeIndex(batch, "vec_id", "embedding", ix)
        .write.mode("append").partitionBy("list").parquet(idxDir)
      val full = s.read.parquet(idxDir)
        .select(col("vec_id"), col("list").cast("int").as("list"), col("codes"))
      val q = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val knn = IvfPq.search(full, "vec_id", ix, q, "qid", "qvec", k = 5, nProbe = 4)
        .select(col("qid"), col("vec_id").as("nid"), col("rank"))
        .localCheckpoint(true) // tiny top-k; read by two verdicts
      // round-trip fidelity: every original index row comes back from
      // parquet with the same cell and codes, nothing lost or added
      val mismatches = index.toDF("o_id", "o_list", "o_codes")
        .join(full.where(col("vec_id") < 2000000L).toDF("r_id", "r_list", "r_codes"),
          col("o_id") === col("r_id"), "full")
        .where(col("o_id").isNull || col("r_id").isNull ||
          col("o_list") =!= col("r_list") || not(col("o_codes") === col("r_codes")))
      emb.agg(count(lit(1L)).as("n_corpus"))
        .crossJoin(batch.agg(count(lit(1L)).as("n_batch")))
        .crossJoin(q.agg(count(lit(1L)).as("n_queries")))
        .crossJoin(knn.where(col("nid") === col("qid") + 2000000L && col("rank") === 1)
          .agg(count(lit(1L)).as("n_clone_top")))
        .crossJoin(knn.where(col("nid") < 2000000L)
          .agg(countDistinct(col("qid")).as("n_span_corpus")))
        .crossJoin(mismatches.agg(count(lit(1L)).as("n_mismatch")))
        .select(col("n_corpus"), col("n_batch"), col("n_queries"),
          (col("n_clone_top") === col("n_queries")).as("clones_rank1_ok"),
          (col("n_span_corpus") === col("n_queries")).as("spans_corpus_ok"),
          (col("n_mismatch") === lit(0L)).as("corpus_preserved_ok"))
    }),

    // LSH-bucketed approximate NN self-join (8 hyperplanes, 8 tables,
    // dense buckets capped). Made oracle-VISIBLE on the vec_id<500 audit
    // slice with planted clones (every vec_id%100<2 duplicated at
    // id+1000000): an identical vector shares every bucket key in every
    // table, so each planted pair must retrieve its partner at rank 1 —
    // the high-similarity regime hyperplane LSH is built for (recall on
    // this corpus's RANDOM low-cosine neighbors is ~17% by S-curve
    // construction, which is why the verdict targets the planted pairs).
    // Brute-force exact top-3 on the same augmented slice anchors the
    // row to DuckDB-recomputable values.
    "sim_ann" -> ((s, dir) => {
      val base = t(s, dir, "embeddings").where(col("vec_id") < 500)
        .select("vec_id", "embedding")
      val aug = base
        .union(base.where(col("vec_id") % 100 < 2)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
        .localCheckpoint(true)
      val ann = Similarity.annSelfJoin(aug, "vec_id", "embedding",
          numPlanes = 8, k = 3)
        .select(col("id_a").as("qid"), col("id_b").as("nid"))
        .localCheckpoint(true) // tiny top-k; read by the partner verdict
      val q = aug.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val bf = Similarity.bruteForceKnn(aug, "vec_id", "embedding",
          q, "qid", "qvec", 3)
        .select(col("qid"), col("vec_id").as("nid"), col("cos"))
      val partnerHits = ann
        .where(col("nid") === col("qid") + 1000000L ||
               col("qid") === col("nid") + 1000000L)
        .agg(count(lit(1L)).as("n_partner_hit"))
      bf.agg(count(lit(1L)).as("n_bf"), min(col("cos")).as("bf_min_cos"))
        .crossJoin(base.where(col("vec_id") % 100 < 2)
          .agg(count(lit(1L)).as("n_planted")))
        .crossJoin(partnerHits)
        .select(col("n_bf"), col("bf_min_cos"), col("n_planted"),
          (col("n_partner_hit") === col("n_planted") * 2).as("partner_recall_ok"))
    }),

    // Snapshot diff: corpus version A (documents) vs a derived version B
    // (every 13th doc removed, every 7th survivor's text changed, every
    // 11th doc re-added under a shifted id), classified per id as
    // added/removed/changed/unchanged. Each side is projected to a
    // 32-byte digest in the scan before the full-outer join — document
    // bodies never shuffle.
    "pipeline_snapshot_diff" -> ((s, dir) => {
      val a = t(s, dir, "documents").select("doc_id", "text")
      val b = a.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(a.where(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.ops.DataPrep.snapshotDiff(a, b, "doc_id", Seq("text"))
        .groupBy("status")
        .agg(count(lit(1L)).as("n"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("status")
    }),

    // URL canonicalization + registrable domain — normalize-before-dedup
    // for web corpora. Raw URLs are planted deterministically from
    // doc_id with every normalization hazard at once (scheme/host case,
    // www, default + explicit ports, trailing slashes, tracking params,
    // unsorted params, fragments); the oracle restates the
    // canonicalization rules in DuckDB regex/list algebra.
    "pipeline_url" -> ((s, dir) => {
      val raw = t(s, dir, "documents").where(col("doc_id") < 40).select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("https")),
          lit("://"),
          when(col("doc_id") % 3 === 0, lit("WWW.News.Example.COM"))
            .when(col("doc_id") % 3 === 1, lit("Shop.Example.CO.UK"))
            .otherwise(lit("cdn.example.org")),
          when(col("doc_id") % 4 === 0, lit(":80"))
            .when(col("doc_id") % 4 === 1, lit(":443"))
            .when(col("doc_id") % 4 === 2, lit(":8080")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit("/a/B/"))
            .when(col("doc_id") % 3 === 1, lit("/idx")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit("?z=2&utm_source=x&a=1"))
            .otherwise(lit("?utm_campaign=c&b=3&fbclid=f")),
          when(col("doc_id") % 5 === 0, lit("#sec")).otherwise(lit(""))).as("url"))
      raw.select(col("doc_id"),
          TF.canonicalizeUrl(col("url")).as("url_canon"))
        .withColumn("domain", TF.registrableDomain(
          regexp_extract(col("url_canon"), "^[^:/?#]+://([^/?#]*)", 1)))
        .orderBy("doc_id")
    }),

    // CDC merge: apply an I/U/D change batch to a snapshot — latest
    // change per id wins (version, then op tiebreak), conflicting
    // update+delete resolves to the delete, double updates to the
    // newer. Deterministic change batch derived from orders; verdict
    // aggregates prove replacement, insertion, and deletion.
    "pipeline_cdc" -> ((s, dir) => {
      val cur = t(s, dir, "orders").where(col("o_orderkey") < 3000)
        .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
      val upd1 = cur.where(col("id") % 7 === 0)
        .select(col("id"), lit("U").as("op"), lit(1L).as("version"),
          lit("U1").as("status"), (col("price") + 1000).as("price"))
      val upd2 = cur.where(col("id") % 7 === 0 && col("id") % 5 === 0)
        .select(col("id"), lit("U").as("op"), lit(3L).as("version"),
          lit("U2").as("status"), (col("price") + 2000).as("price"))
      val del = cur.where(col("id") % 11 === 0)
        .select(col("id"), lit("D").as("op"), lit(2L).as("version"),
          lit(null).cast("string").as("status"),
          lit(null).cast("double").as("price"))
      val ins = cur.where(col("id") % 13 === 0)
        .select((col("id") + 100000L).as("id"), lit("I").as("op"),
          lit(1L).as("version"), lit("NEW").as("status"), col("price"))
      val changes = upd1.unionByName(upd2).unionByName(del).unionByName(ins)
      graft.ops.DataPrep.applyChanges(cur, changes, "id", "op", "version")
        .agg(count(lit(1L)).as("n_rows"),
          round(sum("price"), 2).as("sum_price"),
          sum(when(col("status") === "U1", 1L).otherwise(0L)).as("n_u1"),
          sum(when(col("status") === "U2", 1L).otherwise(0L)).as("n_u2"),
          sum(when(col("id") >= 100000L, 1L).otherwise(0L)).as("n_inserted"),
          sum(when(col("id") % 11 === 0 && col("id") < 100000L, 1L).otherwise(0L))
            .as("n_deleted_left"))
    }),

    // SCD-2 history: collapse versioned observations of each entity into
    // validity intervals — one row per contiguous run of identical
    // content, valid_to = next run's start, NULL while current. Entities
    // are synthesized deterministically from orders (o_orderkey % 500),
    // so runs form wherever consecutive orders of an entity repeat
    // (status, priority).
    "pipeline_scd2" -> ((s, dir) => {
      val snaps = t(s, dir, "orders").select(
        (col("o_orderkey") % 500).as("ent_id"),
        col("o_orderkey").as("version"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
        .where(col("ent_id") < 20)
      graft.ops.DataPrep.scd2History(snaps, "ent_id", "version",
          Seq("status", "priority"))
        .orderBy("ent_id", "valid_from")
    }),

    // DSIR importance resampling: rank the non-English corpus by
    // target-likeness under hashed-unigram multinomials of the English
    // (target) vs rest (raw) corpora, keep the top quarter, report the
    // selection per source. Weight table broadcast; raw corpus scored in
    // one scan. The DuckDB oracle recomputes word-level weights — equal
    // to the hashed path because 2^22 buckets are collision-free on this
    // vocabulary (the hash bounds memory, not semantics).
    "pipeline_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val target = docs.where(col("lang") === "en")
      val raw = docs.where(col("lang") =!= "en")
      val w = graft.functions.Dsir.importanceWeights(target, raw, "text")
      val scored = graft.functions.Dsir.scoreDocs(raw, "doc_id", "text", w)
        .join(raw.select("doc_id", "source"), "doc_id")
      val k = (raw.count() / 4).toInt
      graft.functions.Dsir.resampleTop(scored, "doc_id", "dsir_score", k)
        .groupBy("source")
        .agg(count(lit(1L)).as("n_selected"),
          round(sum("dsir_score"), 4).as("sum_score"))
        .orderBy("source")
    }),

    // Margin-based bitext mining: even-label vectors as the "source
    // language" corpus, odd-label as the "target"; ratio margin over
    // 4-NN neighborhood averages, best-margin partner per source with
    // margin > 1 (better than its neighborhood average).
    "sim_bitext" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val xs = emb.where(col("label") % 2 === 0)
        .select(col("vec_id").as("xid"), col("embedding").as("xv"))
      val ys = emb.where(col("label") % 2 === 1)
        .select(col("vec_id").as("yid"), col("embedding").as("yv"))
      Similarity.marginBitextPairs(xs, "xid", "xv", ys, "yid", "yv",
          k = 4, minMargin = 1.0)
        .select(col("xid"), col("yid"), round(col("margin"), 4).as("margin"))
        .orderBy("xid")
    }),

    // The ANN candidate path of bitext mining (the 100-TB shape), made
    // oracle-VISIBLE structurally: with nProbe = nLists every cell is
    // probed, so the IVF candidate set is the full cross product and
    // the mined pairs must equal the exact scan's BIT-FOR-BIT (cosine
    // operand order commutes exactly in IEEE; same window tie-breaks) —
    // DuckDB recomputes the exact side and asserts the equality verdict
    // as a structural TRUE. A sparse probe (2 of 8 cells) additionally
    // bounds output at one pair per source row. Audit-cost discipline:
    // above ~512 rows per side the corpus is id-hash-sampled so the
    // in-query EXACT reference stays ≤ ~0.25M pairs at ANY scale — the
    // sf1 bench row measures the ANN plumbing, not a brute-force audit
    // (the sf0.01 oracle run is far below the cap: nothing sampled).
    "sim_bitext_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      def side(par: Int) = emb.where(col("label") % 2 === par)
      def capped(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val n = df.count()
        if (n <= 512) df
        else df.where(pmod(xxhash64(col("vec_id")),
          lit(math.ceil(n / 512.0).toLong)) === 0)
      }
      val xs = capped(side(0))
        .select(col("vec_id").as("xid"), col("embedding").as("xv"))
        .localCheckpoint(true) // ≤ ~512 rows; read by 3 mining passes
      val ys = capped(side(1))
        .select(col("vec_id").as("yid"), col("embedding").as("yv"))
        .localCheckpoint(true)
      def mined(df: org.apache.spark.sql.DataFrame) = df
        .select(col("xid"), col("yid"), round(col("margin"), 4).as("m"))
      val exact = mined(Similarity.marginBitextPairs(xs, "xid", "xv",
          ys, "yid", "yv", k = 4, minMargin = 1.0, annPairThreshold = 0))
        .localCheckpoint(true) // tiny pair list; read by 2 verdicts
      val full = mined(Similarity.marginBitextPairsAnn(xs, "xid", "xv",
        ys, "yid", "yv", k = 4, minMargin = 1.0, nLists = 8, nProbe = 8))
      val sparse = Similarity.marginBitextPairsAnn(xs, "xid", "xv",
        ys, "yid", "yv", k = 4, minMargin = 1.0, nLists = 8, nProbe = 2)
      exact.agg(count(lit(1L)).as("n_exact"))
        .crossJoin(exact.join(full, Seq("xid", "yid", "m"), "left_anti")
          .agg(count(lit(1L)).as("__miss")))
        .crossJoin(full.join(exact, Seq("xid", "yid", "m"), "left_anti")
          .agg(count(lit(1L)).as("__extra")))
        .crossJoin(sparse.agg(count(lit(1L)).as("__n_sparse")))
        .crossJoin(xs.agg(count(lit(1L)).as("__nx")))
        .select(col("n_exact"),
          (col("__miss") === 0L && col("__extra") === 0L)
            .as("full_probe_exact_ok"),
          (col("__n_sparse") <= col("__nx")).as("sparse_bounded_ok"))
    }),

    // Sparse-probe RECALL verdict for the ANN bitext path (VERDICT r16
    // #5): exact clones of every 4th x-side vector planted into the y
    // side, probed at the PRODUCTION auto-derived IVF setting
    // (Similarity.bitextAnnParams — the same formula the >16M-pair
    // switch applies, so the setting under test cannot drift from the
    // setting production runs). A clone's survival in the candidate
    // stream is STRUCTURAL at any nProbe ≥ 1: identical vectors get
    // the identical cell (same argmin distance, same tie-break) and
    // every vector's rank-1 probe IS its own cell — so each planted
    // pair meets in a probed cell, DuckDB restates the survival count
    // as the planted count, and the exact→ANN switch's planted-pair
    // recall is an oracle-visible number. The sparse END-TO-END mining
    // also runs (timed, bounded at one pair per source row); its
    // ORGANIC-pair recall vs the exact scan is asserted ≥ 0.9 in
    // BitextRecallSpec (data-dependent — a spec, not an oracle row).
    "sim_bitext_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      def side(par: Int) = emb.where(col("label") % 2 === par)
      def capped(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val n = df.count()
        if (n <= 512) df
        else df.where(pmod(xxhash64(col("vec_id")),
          lit(math.ceil(n / 512.0).toLong)) === 0)
      }
      val xs = capped(side(0))
        .select(col("vec_id").as("xid"), col("embedding").as("xv"))
        .localCheckpoint(true) // ≤ ~512 rows; read by plant + 2 passes
      val plantedPairs = xs.where(col("xid") % 4 === 0)
        .select(col("xid"), (col("xid") + 5000000L).as("yid"))
        .localCheckpoint(true) // tiny; read by the count + the hit join
      val ys = capped(side(1))
        .select(col("vec_id").as("yid"), col("embedding").as("yv"))
        .unionByName(plantedPairs.join(xs, "xid")
          .select(col("yid"), col("xv").as("yv")))
        .localCheckpoint(true)
      val nx = xs.count(); val ny = ys.count()
      val (nLists, nProbe) = Similarity.bitextAnnParams(nx + ny)
      val cand = Similarity.annCandidates(xs, "xid", "xv", ys, "yid", "yv",
          nLists, nProbe, seed = 42L, trainFraction = 1.0,
          maxTrainRows = 1 << 16)
        .where(col("role") === 0) // x probing Y
        .select(col("gid").as("xid"), col("oid").as("yid"))
      val sparse = Similarity.marginBitextPairsAnn(xs, "xid", "xv",
        ys, "yid", "yv", k = 4, minMargin = 1.0,
        nLists = nLists, nProbe = nProbe)
      plantedPairs.agg(count(lit(1L)).as("n_planted"))
        .crossJoin(plantedPairs.join(cand, Seq("xid", "yid"), "left_semi")
          .agg(count(lit(1L)).as("n_hit")))
        .crossJoin(sparse.agg(count(lit(1L)).as("__n_sparse")))
        .select(lit(nx).as("n_x"), lit(ny).as("n_y"),
          lit(nLists.toLong).as("n_lists"), lit(nProbe.toLong).as("n_probe"),
          col("n_planted"), col("n_hit"),
          when(col("n_planted") > 0,
            col("n_hit").cast("double") / col("n_planted"))
            .as("planted_recall"),
          (col("n_hit") === col("n_planted")).as("planted_recall_ok"),
          (col("__n_sparse") <= lit(nx)).as("sparse_bounded_ok"))
    }),

    // DSIR with the paper's RESAMPLING semantics: Gumbel-top-k over
    // score/T — a derandomized softmax-proportional draw (md5-uniform
    // noise keyed on (seed, id)); same weight model as pipeline_dsir.
    "pipeline_dsir_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val target = docs.where(col("lang") === "en")
      val raw = docs.where(col("lang") =!= "en")
      val w = graft.functions.Dsir.importanceWeights(target, raw, "text")
      val scored = graft.functions.Dsir.scoreDocs(raw, "doc_id", "text", w)
        .join(raw.select("doc_id", "source"), "doc_id")
      val k = (raw.count() / 4).toInt
      graft.functions.Dsir.resampleGumbelTopK(scored, "doc_id", "dsir_score",
          k, temperature = 1.0, seed = 0L)
        .groupBy("source")
        .agg(count(lit(1L)).as("n_selected"),
          round(sum("dsir_score"), 4).as("sum_score"))
        .orderBy("source")
    }),

    // Hard-negative mining (contrastive-training data prep): per anchor,
    // the top-5 most-cosine-similar vectors with a DIFFERENT label.
    // Broadcast anchors, one corpus scan, WindowGroupLimit top-k — the
    // bruteForceKnn shape with a label-inequality candidate filter.
    "sim_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val anchors = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          anchors, "qid", "qvec", "qlabel", 5)
        .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
        .orderBy("qid", "rank")
    }),

    // Link-graph centrality as a curation prior: PageRank (3 iterations,
    // d=0.85, dangling-mass redistribution) over the corpus's distinct
    // word co-occurrence graph. Each iteration is two node-keyed
    // equi-joins + one partial-aggregated sum — the CC-loop shuffle
    // discipline applied to an iterative numeric operator; the DuckDB
    // oracle unrolls the identical three rounds.
    "graph_pagerank" -> ((s, dir) => {
      val edges = graft.functions.Graph
        .wordCooccurrenceEdges(t(s, dir, "documents"), "text")
      graft.functions.Graph.pageRank(edges, "src", "dst", iterations = 3)
        .select(col("id").as("word"), round(col("r"), 6).as("pr"))
        .orderBy("word")
    }),

    // Reciprocity + dyad census of the word co-occurrence digraph: how
    // much of the linkage is mutual (conversation) vs one-way
    // (citation) — what PageRank's flows mean depends on it.
    "graph_reciprocity" -> ((s, dir) =>
      graft.functions.Graph.reciprocity(
        graft.functions.Graph
          .wordCooccurrenceEdges(t(s, dir, "documents"), "text"),
        "src", "dst")),

    // Personalized PageRank seeded at {join, scan} over the same word
    // graph: topical authority as seen FROM the seed terms (restart and
    // dangling mass both teleport to the seeds) — the entity-centric
    // ranking global PageRank flattens; 3 unrolled iterations restated
    // row-for-row by the oracle.
    "graph_ppr" -> ((s, dir) => {
      val edges = graft.functions.Graph
        .wordCooccurrenceEdges(t(s, dir, "documents"), "text")
      graft.functions.Graph.personalizedPageRank(edges, "src", "dst",
          Seq("join", "scan"), iterations = 3)
        .select(col("id").as("word"), round(col("r"), 6).as("ppr"))
        .orderBy("word")
    }),

    // HITS hubs/authorities over the same word co-occurrence graph —
    // PageRank's complement: directories (hubs) vs sources
    // (authorities), L2-normalized per half-step, 2 unrolled
    // iterations for the exact SQL restatement.
    "graph_hits" -> ((s, dir) => {
      val edges = graft.functions.Graph
        .wordCooccurrenceEdges(t(s, dir, "documents"), "text")
      graft.functions.Graph.hits(edges, "src", "dst", iterations = 2)
        .select(col("id").as("word"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("word")
    }),

    // k-core extraction over a PLANTED graph with a closed-form core:
    // K8 clique + a 50-node chain hung off node 7. Peeling at k=3
    // strips the chain layer by layer and must return exactly the
    // clique, every node at in-core degree 7 — the oracle states the
    // mathematically-known answer the iterative loop must reach.
    "graph_kcore" -> ((s, dir) => {
      val clique = s.range(8).toDF("x").crossJoin(s.range(8).toDF("y"))
        .where(col("x") < col("y"))
        .select(col("x").as("src"), col("y").as("dst"))
      val chain = s.range(7, 57)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      graft.functions.Graph.kCore(clique.union(chain), "src", "dst", k = 3)
        .orderBy("id")
    }),

    // Label-propagation communities over a PLANTED two-clique graph
    // joined by one bridge edge: connected components would merge the
    // blobs into one (the bridge links them); LPA's density-weighted
    // vote must split them at the sparse cut — each clique settles on
    // its minimum label. 2 synchronous min-tie-break rounds, restated
    // exactly (unrolled) by the oracle.
    "graph_lpa" -> ((s, dir) => {
      import s.implicits._
      def clique(offset: Long) = s.range(8).toDF("x")
        .crossJoin(s.range(8).toDF("y")).where(col("x") < col("y"))
        .select((col("x") + offset).as("src"), (col("y") + offset).as("dst"))
      val edges = clique(0).union(clique(10))
        .union(Seq((7L, 10L)).toDF("src", "dst"))
      graft.functions.Graph.labelPropagation(edges, "src", "dst", iterations = 2)
        .orderBy("id")
    }),

    // Newman modularity of the LPA communities on the planted
    // two-clique-plus-bridge graph: per-community intra-edge share vs
    // the degree-preserving null — the "are these communities real"
    // verdict composed directly on labelPropagation's output.
    "graph_modularity" -> ((s, dir) => {
      import s.implicits._
      def clique(offset: Long) = s.range(8).toDF("x")
        .crossJoin(s.range(8).toDF("y")).where(col("x") < col("y"))
        .select((col("x") + offset).as("src"), (col("y") + offset).as("dst"))
      val edges = clique(0).union(clique(10))
        .union(Seq((7L, 10L)).toDF("src", "dst"))
      val labels = graft.functions.Graph
        .labelPropagation(edges, "src", "dst", iterations = 2)
      graft.functions.Graph.modularity(edges, "src", "dst",
        labels, "id", "community")
    }),

    // Adamic–Adar link prediction over the word co-occurrence graph:
    // top unlinked pairs by Σ 1/ln(deg) over common neighbors — rare
    // shared neighbors outvote hubs; hub pivots are excluded from
    // wedge generation (their O(deg²) wedges carry the least signal).
    "graph_linkpred" -> ((s, dir) => {
      val edges = graft.functions.Graph
        .wordCooccurrenceEdges(t(s, dir, "documents"), "text")
      graft.functions.Graph.adamicAdar(edges, "src", "dst", k = 20)
    }),

    // Inverted-index retrieval: build the term → sorted-postings index
    // (one term-keyed exchange), then conjunctive search touching ONLY
    // the queried terms' postings — work ∝ Σ df(query), never corpus
    // size. Oracle restates tokenization + the ALL-terms intersection.
    "text_search" -> ((s, dir) => {
      val idx = graft.functions.InvertedIndex
        .build(t(s, dir, "documents"), "doc_id", "text")
      graft.functions.InvertedIndex
        .searchAll(idx, Seq("vector", "stream", "window", "query"))
        .orderBy("doc_id")
    }),

    // Jaro-Winkler similarity over the corpus VOCABULARY (all pairs of
    // the bounded distinct-term table): the record-linkage scorer,
    // value-for-value against DuckDB's jaro_winkler_similarity — a
    // cross-ENGINE check of the native expression's exact semantics
    // (window, transpositions, 0.7 boost threshold, prefix cap 4).
    "text_jw" -> ((s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(explode(TF.tokensWs(lower(col("text")))).as("w"))
        .where(col("w") =!= "").distinct()
      vocab.toDF("wa").join(vocab.toDF("wb"), col("wa") < col("wb"))
        .select(col("wa"), col("wb"),
          round(GraftFunctions.jaroWinkler(col("wa"), col("wb")), 6).as("jw"))
        .where(col("jw") >= 0.5)
        .orderBy("wa", "wb")
    }),

    // Log2-bucketed document length histogram: the first plot of any
    // corpus intake (truncation cliffs and fragment floods show up as
    // spikes); bucket = floor(log2 chars), one bounded aggregate.
    "text_len_hist" -> ((s, dir) =>
      t(s, dir, "documents")
        .where(col("n_chars") > 0)
        .groupBy((length(bin(col("n_chars"))) - 1).as("log2_bucket"))
        .agg(count(lit(1L)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("log2_bucket")),

    // Charset coverage per language: ASCII share of characters and the
    // count of docs containing any non-ASCII — the encoding-QA view
    // that separates genuinely non-Latin corpora from mojibake leaks
    // into supposedly-ASCII ones. Pure in-scan regex counts.
    "text_ascii" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1L)).as("n_docs"),
          round(sum(length(regexp_replace(col("text"), "[^\\x00-\\x7F]", ""))
              .cast("double")) / sum(length(col("text")).cast("double")), 6)
            .as("ascii_share"),
          sum(when(col("text").rlike("[^\\x00-\\x7F]"), 1L).otherwise(0L))
            .as("n_docs_nonascii"))
        .orderBy("lang")),

    // Church–Gale term burstiness: cf/df — mean occurrences per
    // CONTAINING document. Function words sit near cf/df ≈ uniform;
    // bursty content terms clump (high ratio) — the signal separating
    // topical vocabulary from glue, and a spam-keyword tell. One
    // term-keyed aggregate carrying both counts.
    "text_burstiness" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TF.tokensWs(lower(col("text")))).as("term"))
        .where(col("term") =!= "")
        .groupBy("term")
        .agg(count(lit(1L)).as("cf"), countDistinct(col("doc_id")).as("df"))
        .select(col("term"), col("cf"), col("df"),
          round(col("cf") / col("df").cast("double"), 6).as("burstiness"))
        .orderBy(col("cf").desc, col("term")).limit(20)),

    // Language-balance entropy per source: Shannon entropy of the lang
    // shares normalized by ln(k) — 1.0 = perfectly mixed, → 0 =
    // monolingual; the mix-health scalar per corpus slice. Cell-keyed
    // aggregate + per-source rollup, all bounded.
    "pipeline_lang_balance" -> ((s, dir) => {
      val cells = t(s, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1L)).as("n"))
      val tot = cells.groupBy("source")
        .agg(sum(col("n")).cast("double").as("nt"),
          count(lit(1L)).as("n_langs"))
      cells.join(tot, "source")
        .groupBy(col("source"))
        .agg(first(col("n_langs")).as("n_langs"),
          first(col("nt")).cast("long").as("n_docs"),
          round(sum(-(col("n") / col("nt")) * log(col("n") / col("nt"))) /
            log(first(col("n_langs")).cast("double")), 6)
            .as("balance_entropy"))
        .where(col("n_langs") > 1)
        .orderBy("source")
    }),

    // Dataset-card manifest: per-source rows/share/tokens/chars,
    // dominant language with share, exact-duplicate rate — the
    // datasheet row every released corpus mix ships.
    "pipeline_card" -> ((s, dir) =>
      graft.ops.Profiler.datasetCard(t(s, dir, "documents"),
        "source", "lang", "text").orderBy("source")),

    // Inverted-index ARTIFACT protocol: build over the standing corpus,
    // write bucket-partitioned parquet, read back, prune to the query
    // terms' partitions, and search TOGETHER with an arriving batch
    // indexed on the fly — the result must equal a whole-corpus
    // conjunctive search (round-trip + pruning lose nothing, the delta
    // needs no rebuild).
    "text_search_index" -> ((s, dir) => {
      import graft.functions.InvertedIndex
      val docs = t(s, dir, "documents")
      val dirKey = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val path = s"/root/repo/target/fixtures/$dirKey/inv_index"
      val terms = Seq("merge", "filter", "group")
      InvertedIndex.write(
        InvertedIndex.build(docs.where(col("doc_id") < 400), "doc_id", "text"),
        path, buckets = 16)
      val main = InvertedIndex.pruneToTerms(
        InvertedIndex.read(s, path), terms, buckets = 16)
      val delta = InvertedIndex.build(
        docs.where(col("doc_id") >= 400), "doc_id", "text")
      InvertedIndex.searchAllWithDelta(main, delta, terms)
        .orderBy("doc_id")
    }),

    // Keyword-in-context concordance: first occurrence position +
    // ±20-char snippet, pure in-scan string algebra (integer-exact
    // across engines).
    "text_kwic" -> ((s, dir) =>
      TF.keywordInContext(
          t(s, dir, "documents").where(col("doc_id") < 100),
          "doc_id", "text", "vector", width = 20)
        .orderBy("doc_id")),

    // Point-in-time enrichment: facts (shifted so some versions fall
    // between snapshots and some precede history entirely) joined to
    // the SCD-2 validity intervals THROUGH the no-join as-of machinery —
    // the feature-store correctness primitive: each fact sees exactly
    // the version current at its own timestamp, never a later one.
    "pipeline_pit" -> ((s, dir) => {
      val snaps = t(s, dir, "orders").select(
        (col("o_orderkey") % 500).as("ent_id"),
        col("o_orderkey").as("version"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
        .where(col("ent_id") < 20)
      val hist = graft.ops.DataPrep.scd2History(snaps, "ent_id", "version",
          Seq("status", "priority"))
        .select(col("ent_id"), col("valid_from"), col("status"), col("priority"))
      val facts = t(s, dir, "lineitem").select(
          (col("l_orderkey") % 500).as("ent_id"),
          (col("l_orderkey") - 3).as("v"))
        .where(col("ent_id") < 20)
      graft.ops.Analytics.asofJoin(facts, hist, Seq("ent_id"), "v", "valid_from")
        .groupBy(coalesce(col("status"), lit("none")).as("status"),
          coalesce(col("priority"), lit("none")).as("priority"))
        .agg(count(lit(1L)).as("n_facts"),
          countDistinct(col("ent_id")).as("n_ents"))
        .orderBy("status", "priority")
    }),

    // Interval-integrity audit over a PLANTED messy interval table
    // (ends derived from an unrelated column → real overlaps and gaps):
    // the pre-flight before trusting any SCD-2/bitemporal join.
    "pipeline_scd2_audit" -> ((s, dir) =>
      graft.ops.TableHealth.intervalAudit(
        t(s, dir, "orders").where(col("o_orderkey") % 50 < 10)
          .select((col("o_orderkey") % 50).as("id"),
            col("o_orderkey").as("f"),
            (col("o_orderkey") + 1 + pmod(col("o_custkey"), lit(100)))
              .as("tt")),
        col("id"), col("f"), col("tt"))),

    // Quantile normalization: src1 doc lengths mapped onto src0's
    // length distribution — the cross-source score-alignment step
    // before any global threshold; exact interpolated order statistics.
    // exact = true: the oracle restates exact interpolated order
    // statistics; the engine DEFAULT is the approx-grid path that
    // never sorts globally.
    "pipeline_quantile_map" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.DataPrep.quantileMap(
          docs.where(col("source") === "src0"), col("n_chars"),
          docs.where(col("source") === "src1"), col("doc_id"), col("n_chars"),
          exact = true)
        .orderBy("id")
    }),

    // The DEFAULT (scale) quantile-normalization path under its own
    // oracle: both sides summarized to a 17-point quantile grid (one
    // mergeable approx_percentile pass each — exact at this n since
    // Spark's exact-regime pick is the rank-ceil(p·n) element, i.e.
    // DuckDB's quantile_disc), percentile and mapped value by in-scan
    // grid arithmetic the oracle restates term for term. Proves the
    // sort-free path, not just the rank-join audit path.
    "pipeline_quantile_map_scale" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.DataPrep.quantileMap(
          docs.where(col("source") === "src0"), col("n_chars"),
          docs.where(col("source") === "src1"), col("doc_id"), col("n_chars"),
          gridSize = 16)
        .orderBy("id")
    }),

    // Embedding drift between label groups: pairwise cosine of group
    // CENTROIDS — "are these sources/collections embedding into the
    // same region". Dim-keyed mean aggregate (|groups|·64 cells) then a
    // dim-equality self-join; no vector ever collects to the driver.
    "sim_label_drift" -> ((s, dir) => {
      val cells = t(s, dir, "embeddings")
        .where(size(col("embedding")) === 64)
        .select(pmod(col("label"), lit(5)).as("g"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("g", "dim").agg(avg(col("v").cast("double")).as("m"))
      val a = cells.select(col("g").as("ga"), col("dim"), col("m").as("ma"))
      val b = cells.select(col("g").as("gb"), col("dim"), col("m").as("mb"))
      a.join(b, "dim").where(col("ga") < col("gb"))
        .groupBy("ga", "gb")
        .agg(round(
          sum(col("ma") * col("mb")) /
            (sqrt(sum(col("ma") * col("ma"))) * sqrt(sum(col("mb") * col("mb")))),
          6).as("centroid_cos"))
        .orderBy("ga", "gb")
    }),

    // Packing efficiency: the utilization report for the token-budget
    // packer — overall fill rate and the share of packs ≥ 90% full;
    // the number that says whether the budget wastes accelerator
    // memory. Rides the same pack assignment, one extra bounded rollup.
    "pipeline_pack_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TF.tokenCountWs(col("text")).cast("long").as("toks"))
      graft.ops.DataPrep.packByBudget(d, Seq(col("source")), Seq(col("doc_id")),
          col("toks"), budget = 2048L)
        .groupBy("source", "pack_id")
        .agg(sum(col("toks")).as("pack_toks"))
        .agg(count(lit(1L)).as("n_packs"),
          sum(col("pack_toks")).as("total_toks"),
          sum(when(col("pack_toks") >= 2048L * 9 / 10, 1L).otherwise(0L))
            .as("n_full90"))
        .select(col("n_packs"), col("total_toks"),
          round(col("total_toks") / (col("n_packs") * 2048.0), 6)
            .as("utilization"),
          round(col("n_full90") / col("n_packs").cast("double"), 6)
            .as("share_full90"))
    }),

    // Embedding L2-norm distribution per label group: norm collapse
    // (all norms ≈ equal) or runaway outlier norms both distort cosine
    // vs dot-product behavior — the quick geometry check before any
    // similarity work. In-scan HOF norm, bounded per-group percentile
    // rollup.
    "sim_norm_dist" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .where(size(col("embedding")) === 64)
        .select(pmod(col("label"), lit(5)).as("g"),
          sqrt(aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast("double") * x.cast("double"))).as("nrm"))
        .groupBy("g")
        .agg(count(lit(1L)).as("n"),
          round(expr("percentile(nrm, 0.5)"), 6).as("p50_norm"),
          round(min(col("nrm")), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"))
        .orderBy("g")),

    // Triplet-margin diagnostic: for each anchor, is the nearest
    // SAME-label vector closer than the nearest DIFFERENT-label one?
    // The share of violated anchors is the label-margin health of the
    // space — high violation predicts that any label-aware curation
    // (hard negatives, cluster balancing) will fight the geometry.
    "sim_triplet_margin" -> ((s, dir) => {
      val sub = t(s, dir, "embeddings")
        .where(col("vec_id") < 200 && size(col("embedding")) === 64)
      val q = sub.select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
      val nn = Similarity.bruteForceKnn(sub, "vec_id", "embedding",
          q.select(col("qid"), col("qvec")), "qid", "qvec", 199)
        .join(sub.select(col("vec_id"), col("label").as("nl")), "vec_id")
        .join(q.select(col("qid"), col("qlabel")), "qid")
      val best = nn.groupBy(col("qid"))
        .agg(max(when(col("nl") === col("qlabel"), col("cos"))).as("best_same"),
          max(when(col("nl") =!= col("qlabel"), col("cos"))).as("best_diff"))
        .where(col("best_same").isNotNull && col("best_diff").isNotNull)
      best.agg(count(lit(1L)).as("n_anchors"),
          sum(when(col("best_diff") >= col("best_same"), 1L).otherwise(0L))
            .as("n_violated"))
        .select(col("n_anchors"), col("n_violated"),
          round(col("n_violated") / col("n_anchors").cast("double"), 6)
            .as("violation_rate"))
    }),

    // Leave-one-out kNN label validation: does the embedding space
    // actually encode the labels? Each bounded-subset vector is
    // classified by majority vote of its 5 nearest neighbors' labels
    // (ties → smallest label) and scored against its true label — the
    // standard representation-quality probe before trusting any
    // similarity-based curation.
    "sim_knn_accuracy" -> ((s, dir) => {
      val sub = t(s, dir, "embeddings")
        .where(col("vec_id") < 200 && size(col("embedding")) === 64)
      val q = sub.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val nn = Similarity.bruteForceKnn(sub, "vec_id", "embedding",
          q, "qid", "qvec", 5)
        .join(sub.select(col("vec_id"), col("label").as("nn_label")), "vec_id")
      val votes = nn.groupBy(col("qid"), col("nn_label"))
        .agg(count(lit(1L)).as("v"))
      val winner = votes
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("v").desc, col("nn_label").asc)))
        .where(col("rn") === 1)
        .select(col("qid"), col("nn_label").as("pred"))
      winner.join(sub.select(col("vec_id").as("qid"),
          col("label").as("truth")), "qid")
        .agg(count(lit(1L)).as("n_evaluated"),
          sum(when(col("pred") === col("truth"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(col("n_evaluated"), col("n_correct"),
          round(col("n_correct") / col("n_evaluated").cast("double"), 6)
            .as("accuracy"))
    }),

    // Per-dimension embedding health: mean/variance/zero-fraction of
    // every coordinate — dead dimensions (variance ≈ 0) waste index
    // space and saturated ones dominate distances; the standard QA
    // before building any ANN index. One posexplode + dim-keyed agg
    // (64 groups).
    "sim_dim_health" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .where(size(col("embedding")) === 64)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim"), col("v").cast("double").as("v"))
        .groupBy("dim")
        .agg(count(lit(1L)).as("n"),
          round(avg(col("v")), 6).as("mean_v"),
          round(var_samp(col("v")), 6).as("var_v"),
          sum(when(abs(col("v")) < 1e-6, 1L).otherwise(0L)).as("n_zero"))
        .withColumn("dead", col("var_v") < 1e-6)
        .orderBy("dim")),

    // kNN-distance outliers: the classic density-based anomaly score
    // for embedding spaces — distance to the 5th nearest neighbor, ten
    // most isolated vectors. Exact over a bounded subset (broadcast
    // queries); the scale path swaps in the IVF/PQ index for candidate
    // generation.
    "sim_outlier" -> ((s, dir) => {
      val sub = t(s, dir, "embeddings")
        .where(col("vec_id") < 200 && size(col("embedding")) === 64)
      val q = sub.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceKnn(sub, "vec_id", "embedding", q, "qid", "qvec", 5)
        .where(col("rank") === 5)
        .select(col("qid").as("vec_id"), col("cos").as("knn5_cos"),
          round(lit(1.0) - col("cos"), 4).as("outlier_score"))
        .orderBy(col("knn5_cos").asc, col("vec_id")).limit(10)
    }),

    // One-scan d×d sample covariance of the embedding column — the
    // auditable face of the PCA pipeline (the eigen step is driver-side
    // over this bounded matrix): each row expands to its upper-triangle
    // products IN-SCAN (no self-join) and map-side combine caps the
    // exchange at d(d+1)/2 rows per partition regardless of corpus size.
    "sim_pca_cov" -> ((s, dir) =>
      Pca.covarianceUpper(t(s, dir, "embeddings"), "embedding", 64)
        .select(col("i"), col("j"), col("n"),
          round(col("cov"), 6).as("cov"))
        .orderBy("i", "j")),

    // PCA explained-variance verdicts: the covariance scan feeds a
    // bounded driver Jacobi eigendecomposition (d², the IPF
    // bounded-driver-step discipline). Individual eigenvalues are not
    // ANSI-SQL-expressible (PcaSpec pins them: hand-computed 2×2,
    // A·v=λ·v residuals, orthonormality, projected variance == λ), but
    // their INVARIANTS are — the sim_ivf_sweep verdict pattern: the
    // eigenvalue sum must equal the covariance trace (Σ per-dim sample
    // variances, restated by the oracle from the same SQL face as
    // sim_pca_cov), ratios must sum to 1, the sequence must be
    // non-increasing and non-negative (PSD), cum_ratio ≤ 1.
    "sim_pca_var" -> ((s, dir) => {
      val model = Pca.fit(t(s, dir, "embeddings"), "embedding", 64, 8)
      val evals = model.eigenvalues // all 64, descending
      val tot = evals.sum
      def r(x: Double, dp: Int) = BigDecimal(x).setScale(dp,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = model.explained().map { case (c, _, _, cum) =>
        (c, r(tot, 4), r(evals.map(_ / tot).sum, 6),
          evals(c) >= -1e-9,
          c + 1 >= evals.length || evals(c) >= evals(c + 1) - 1e-12,
          cum <= 1.0 + 1e-9)
      }
      s.createDataFrame(rows)
        .toDF("component", "trace", "ratio_sum_all",
          "nonneg_ok", "nonincreasing_ok", "cum_le_one_ok")
        .orderBy("component")
    }),

    // Diagonal-Mahalanobis embedding outliers: the O(n·d) one-scan
    // complement of the O(n²) kNN-distance score above — per-dim stats
    // are one bounded aggregation, scoring is map-only with the stats
    // shipped as literals; the corpus never shuffles at 100 TB.
    "sim_outlier_maha" -> ((s, dir) =>
      Pca.diagMahalanobis(
          t(s, dir, "embeddings").where(size(col("embedding")) === 64),
          "embedding", 64)
        .select(col("vec_id"), round(col("maha2"), 4).as("maha2"))
        .orderBy(col("maha2").desc, col("vec_id")).limit(10)),

    // Davies–Bouldin cluster-quality audit over a deterministic
    // assignment (id mod 5 — SQL-restatable so the oracle pins the
    // whole scatter/separation algebra): centroids one scan, scatter
    // one broadcast-join scan, ratios a k²-bounded centroid pairing.
    "sim_db_index" -> ((s, dir) =>
      Similarity.daviesBouldin(
          t(s, dir, "embeddings")
            .where(size(col("embedding")) === 64)
            .withColumn("cluster", pmod(col("vec_id"), lit(5L))),
          "embedding", "cluster")
        .select(col("cluster"), col("n"),
          round(col("scatter"), 6).as("scatter"),
          round(col("worst_ratio"), 6).as("worst_ratio"))
        .orderBy("cluster")),

    // Simplified (centroid) silhouette over the same mod-5 assignment:
    // the O(n·k) cluster-quality readout beside Davies-Bouldin.
    // Simplified Hopkins clusterability of the embedding space: m=16
    // md5-bottom real probes vs 16 md5-fraction synthetic uniform
    // points in the per-dim bounding box; H = sum_u/(sum_u + sum_w).
    // Fully deterministic, so the oracle recomputes H outright.
    "sim_hopkins" -> ((s, dir) =>
      Similarity.hopkinsStatistic(
        t(s, dir, "embeddings").where(size(col("embedding")) === 64),
        "vec_id", "embedding", m = 16)),

    // k-center greedy diversity selection over the embeddings: max-norm
    // seed, then 3 farthest-point rounds (min-id tie-breaks) — the
    // coreset/diversity-sampling rule. The oracle replays the identical
    // greedy chain as unrolled CTEs; the radius sequence is
    // non-increasing by construction.
    "sim_kcenter" -> ((s, dir) =>
      Similarity.kCenterGreedy(
        t(s, dir, "embeddings").where(size(col("embedding")) === 64),
        "vec_id", "embedding", k = 4)),

    // Simplified (centroid) silhouette per cluster over the 64-d embeddings - the O(n*k) surrogate of the pairwise form.
    "sim_silhouette" -> ((s, dir) =>
      Similarity.simplifiedSilhouette(
          t(s, dir, "embeddings")
            .where(size(col("embedding")) === 64)
            .withColumn("cluster", pmod(col("vec_id"), lit(5L))),
          "vec_id", "embedding", "cluster")
        .select(col("cluster"), col("n"),
          round(col("avg_silhouette"), 6).as("avg_silhouette"))
        .orderBy("cluster")),

    // Calinski-Harabasz variance-ratio criterion from pure per-cluster
    // moments (no distance pass at all) — one posexplode rollup.
    "sim_ch_index" -> ((s, dir) =>
      Similarity.calinskiHarabasz(
          t(s, dir, "embeddings")
            .where(size(col("embedding")) === 64)
            .withColumn("cluster", pmod(col("vec_id"), lit(5L))),
          "embedding", "cluster")),

    // Isotonic (PAV) calibration over deterministic pseudo-scores: one
    // bin-keyed aggregation + the bounded driver PAV; the oracle
    // restates the fit via the minimax identity pav(i) = max_{h<=i}
    // min_{k>=i} avg(h..k) — a true differential check of the pooling.
    "eval_isotonic" -> ((s, dir) =>
      graft.ops.Analytics.isotonicCalibrate(
          t(s, dir, "documents"),
          (col("n_chars") % 97) / lit(96.0),
          when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
            .otherwise(0),
          bins = 10)
        .select(col("bin"), col("n"),
          round(col("avg_score"), 6).as("avg_score"),
          round(col("raw_rate"), 6).as("raw_rate"),
          round(col("pav_rate"), 6).as("pav_rate"))
        .orderBy("bin")),

    // Corpus BLEU self-eval: candidate = word-reversed 80% truncation
    // of the reference (deterministic, SQL-restatable) — reversal makes
    // the n>1 precisions non-trivial, truncation exercises the brevity
    // penalty. Per-order clipped-precision table...
    "eval_bleu_prec" -> ((s, dir) => {
      val toks = TF.tokensWs(col("text"))
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", reverse(slice(toks, lit(1),
          ceil(size(toks) * lit(0.8)).cast("int")))).as("cand"),
        col("text").as("ref"))
      TF.bleuPrecisions(pairs, "doc_id", "cand", "ref", 4)
        .select(col("n"), col("clipped"), col("total"),
          round(col("precision"), 6).as("p_n"))
        .orderBy("n")
    }),

    // ...and the corpus-level scalar (geometric mean × brevity penalty).
    "eval_bleu" -> ((s, dir) => {
      val toks = TF.tokensWs(col("text"))
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", reverse(slice(toks, lit(1),
          ceil(size(toks) * lit(0.8)).cast("int")))).as("cand"),
        col("text").as("ref"))
      TF.corpusBleu(pairs, "doc_id", "cand", "ref", 4)
        .select(round(col("bleu"), 6).as("bleu"),
          round(col("bp"), 6).as("bp"),
          col("cand_tokens"), col("ref_tokens"))
    }),

    // Per-slice AUC/Brier of a deterministic pseudo-scorer: the
    // fairness audit (a scorer can rank one source at chance while the
    // pooled AUC looks fine). Rank window PARTITIONED by slice — no
    // single-reducer stage at any slice cardinality.
    "eval_auc_by_source" -> ((s, dir) =>
      graft.ops.Analytics.aucBrierByGroup(
          t(s, dir, "documents"), col("source"),
          (col("n_chars") % 97) / lit(96.0),
          when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
            .otherwise(0))
        .orderBy("grp")),

    // Murphy decomposition + ECE of the deterministic pseudo-scorer:
    // one bin rollup, closed-form algebra, within-bin residual reported
    // honestly — the oracle restates every term.
    "eval_brier_decomp" -> ((s, dir) =>
      graft.ops.Analytics.brierDecomposition(
        t(s, dir, "documents"),
        (col("n_chars") % 97) / lit(96.0),
        when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
          .otherwise(0), bins = 10)),

    // Multi-class P/R/F1 report of a deterministic lang classifier
    // that over-predicts "en" on every 4th doc: per-class rows + the
    // macro/micro summary rows from ONE confusion rollup; macro-F1
    // exposes the recall the over-prediction costs the other classes.
    "eval_confusion" -> ((s, dir) =>
      graft.ops.Analytics.classificationReport(
        t(s, dir, "documents"), col("lang"),
        when(col("doc_id") % 4 === 0, lit("en")).otherwise(col("lang")))
        .orderBy("cls")),

    // Regression error table (bias/MAE/RMSE/MAPE/R^2) of a planted
    // length predictor with uniform integer error in [-10, 10]: one
    // power-sum scan, every metric restated by the oracle.
    "eval_regression_metrics" -> ((s, dir) =>
      graft.ops.Analytics.regressionMetrics(
        t(s, dir, "documents"), col("n_chars"),
        col("n_chars") + (col("doc_id") % 21) - 10)),

    // Spiegelhalter's binning-free calibration Z on the SAME
    // pseudo-scorer: every prediction contributes at its own p, so
    // within-bin cancellation (which ECE cannot see) still registers;
    // one 3-sum corpus rollup, the significance companion of
    // eval_brier_decomp's decomposition.
    "eval_spiegelhalter" -> ((s, dir) =>
      graft.ops.Analytics.spiegelhalterZ(
        t(s, dir, "documents"),
        (col("n_chars") % 97) / lit(96.0),
        when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
          .otherwise(0))),

    // Importance-weighted metric under covariate shift: what the
    // pseudo-accuracy would be on the en (target) mix, estimated from
    // non-en (source) rows via a GD domain classifier's density
    // ratio — with the labeled-target truth and the weights' ESS
    // reported beside it.
    "eval_shift_weighted" -> ((s, dir) =>
      graft.ops.Analytics.shiftWeightedMetric(
        t(s, dir, "documents"),
        col("lang") === "en",
        (col("n_chars") % 97) / lit(96.0),
        when(col("n_chars") % 7 < 3, 1.0).otherwise(0.0))),

    // Bland-Altman limits + Lin's CCC between two integer pseudo-
    // scorers over the same docs: the numeric-agreement readout the
    // kappa family (categorical) cannot give — constant offsets that
    // Pearson's r is blind to hit CCC and the bias line directly.
    "eval_ccc" -> ((s, dir) =>
      graft.ops.Analytics.numericAgreement(
        t(s, dir, "documents"),
        col("n_chars") % 97, col("n_chars") % 89)),

    // ROC-AUC with the Hanley-McNeil closed-form CI on the shared
    // pseudo-scorer: the error bar the bare AUC number needs; same
    // rank machinery as eval_auc_by_source, one extra closed form.
    "eval_auc_ci" -> ((s, dir) =>
      graft.ops.Analytics.aucConfidence(
        t(s, dir, "documents"),
        (col("n_chars") % 97) / lit(96.0),
        when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
          .otherwise(0))),

    // Confident-learning label-noise audit: class-conditional mean
    // scores as confidence thresholds, confidently-contradicted labels
    // counted per direction — "how dirty are these labels" before any
    // training run.
    "pipeline_label_noise" -> ((s, dir) =>
      graft.ops.Analytics.labelNoiseEstimate(
        t(s, dir, "documents"),
        (col("n_chars") % 97) / lit(96.0),
        col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0)),

    // Binary diagnostics of a deterministic thresholded predictor:
    // 2x2 cells + accuracy, balanced accuracy, MCC and Youden's J from
    // ONE 4-count scan — the imbalance-honest binary drill-down beside
    // eval_confusion's multi-class table.
    "eval_mcc" -> ((s, dir) =>
      graft.ops.Analytics.binaryDiagnostics(
        t(s, dir, "documents"),
        col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0,
        col("n_chars") % 7 < 3)),

    // Platt recalibration line of the SAME pseudo-scorer: sigmoid fit
    // by the unrolled GD chain (weights rounded, the q_ipw discipline),
    // Brier before/after with exactly the published line; the oracle
    // replays the whole 8-step recurrence plus the scoring pass.
    "eval_platt" -> ((s, dir) =>
      graft.ops.Analytics.plattCalibration(
        t(s, dir, "documents"),
        (col("n_chars") % 97) / lit(96.0),
        when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
          .otherwise(0))),

    // Top-1000 selection churn between the two standing pseudo-scorers:
    // how much of the selected corpus a scorer swap would replace —
    // the stability number an AUC delta hides; two two-phase rank
    // passes, one id-keyed join.
    "pipeline_topk_churn" -> ((s, dir) =>
      graft.ops.Analytics.topKOverlap(
        t(s, dir, "documents"), col("doc_id"),
        (col("n_chars") % 97) / lit(96.0),
        (col("n_chars") % 89) / lit(88.0), k = 1000)),

    // Per-source ECE/Brier on the SAME pseudo-scorer: the pooled
    // calibration row per slice — a clean pooled ECE can hide a badly
    // calibrated source.
    "eval_ece_by_source" -> ((s, dir) =>
      graft.ops.Analytics.eceByGroup(
        t(s, dir, "documents"), col("source"),
        (col("n_chars") % 97) / lit(96.0),
        when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
          .otherwise(0), bins = 10).orderBy("grp")),

    // Hosmer-Lemeshow chi-square on the SAME bins as eval_brier_decomp:
    // the classical goodness-of-fit verdict over the per-bin O/E gaps,
    // degenerate-rate bins excluded and counted; chi2(g-2) critical
    // value restated arm-for-arm by the oracle.
    "eval_hosmer" -> ((s, dir) =>
      graft.ops.Analytics.hosmerLemeshow(
        t(s, dir, "documents"),
        (col("n_chars") % 97) / lit(96.0),
        when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
          .otherwise(0), bins = 10)),

    // k-fold cross-validated scorer eval END-TO-END: the kFold
    // assignment (md5 group-keyed on source) feeds the per-slice
    // rank-sum AUC/Brier — per-fold generalization spread from two
    // existing operators, no new machinery; rank windows partition by
    // fold, the oracle replays the fold rule per-nibble.
    "eval_cv_auc" -> ((s, dir) =>
      graft.ops.Analytics.aucBrierByGroup(
          t(s, dir, "documents"),
          graft.ops.DataPrep.hashBucket(col("source"), 5),
          (col("n_chars") % 97) / lit(96.0),
          when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
            .otherwise(0))
        .orderBy("grp")),

    // External cluster validation (purity / NMI / ARI) of a
    // deterministic 5-cell assignment against the embedding labels:
    // one contingency rollup, closed-form index algebra — the quality
    // gate for curation clusterings, fully restated by the oracle.
    "sim_cluster_agreement" -> ((s, dir) =>
      graft.ops.Analytics.clusterAgreement(
        t(s, dir, "embeddings"),
        pmod(col("vec_id"), lit(5L)), col("label"))),

    // Split-conformal keep/drop thresholds over a nonconformity score:
    // the ceil((n+1)(1-alpha))-th order statistic per alpha, extracted
    // by the two-phase global rank (never a single-reducer sort).
    "eval_conformal" -> ((s, dir) =>
      graft.ops.Analytics.conformalThresholds(
          t(s, dir, "documents"), col("n_chars"),
          Seq(0.01, 0.05, 0.1, 0.25))
        .orderBy("alpha")),

    // chrF over the same reversed-truncation candidate as eval_bleu:
    // char-n-gram F_2 with whitespace stripped — the eval that credits
    // partial word overlap BLEU misses. Same (id, gram)-keyed equi-join
    // shape per order.
    "eval_chrf" -> ((s, dir) => {
      val toks = TF.tokensWs(col("text"))
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", reverse(slice(toks, lit(1),
          ceil(size(toks) * lit(0.8)).cast("int")))).as("cand"),
        col("text").as("ref"))
      TF.chrF(pairs, "doc_id", "cand", "ref", maxN = 6, beta = 2.0)
        .select(round(col("chrf"), 6).as("chrf"),
          round(col("chrp"), 6).as("chrp"),
          round(col("chrr"), 6).as("chrr"), col("n_orders"))
    }),

    // Koehn (2004) paired bootstrap: system A (in-order 80% prefix)
    // vs system B (the same prefix REVERSED) on the full text as
    // reference — A must win essentially every replicate, and the
    // p-value is a pure function of the data via the md5 Poisson coin.
    "eval_paired_bootstrap" -> ((s, dir) => {
      val toks = TF.tokensWs(col("text"))
      val cut = ceil(size(toks) * lit(0.8)).cast("int")
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", slice(toks, lit(1), cut)).as("ca"),
        concat_ws(" ", reverse(slice(toks, lit(1), cut))).as("cb"),
        col("text").as("ref"))
      TF.pairedBootstrapBleu(pairs, "doc_id", "ca", "cb", "ref", b = 199)
    }),

    // ROUGE-L over a PLANTED construction whose LCS is analytically
    // known: replace every 5th token (original index) with a
    // doc-unique OOV marker, delete every 7th — OOV tokens match
    // nothing and the surviving originals are a common subsequence, so
    // LCS = #(i: i%5!=0 and i%7!=0) EXACTLY, however repetitive the
    // vocabulary. The engine runs the real [[LcsLen]] DP; the oracle
    // recomputes the closed form from token counts.
    "eval_rouge_l" -> ((s, dir) => {
      val toks = TF.tokensWs(col("text"))
      val marked = transform(toks, (t, i) =>
        when(i % 5 === 0, concat(lit("@"), col("doc_id").cast("string"),
          lit("_"), i.cast("string"))).otherwise(t))
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", filter(marked, (_, i) => i % 7 =!= 0)).as("cand"),
        col("text").as("ref"))
      TF.rougeL(pairs, "doc_id", "cand", "ref", beta = 1.0)
    }),

    // ROUGE-1/2 over the SAME reversed-80%-prefix construction as
    // eval_bleu: reversal preserves unigram content (high ROUGE-1
    // recall) while destroying local order (low ROUGE-2) — the two
    // orders separate content overlap from fluency. Macro-averaged
    // per-pair P/R/F, one row per order.
    "eval_rouge_n" -> ((s, dir) => {
      val toks = TF.tokensWs(col("text"))
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", reverse(slice(toks, lit(1),
          ceil(size(toks) * lit(0.8)).cast("int")))).as("cand"),
        col("text").as("ref"))
      TF.rougeN(pairs, "doc_id", "cand", "ref", maxN = 2)
    }),

    // Corpus WER over the SAME planted construction as eval_rouge_l
    // (every 5th token OOV-substituted, every 7th dropped): the
    // word-level Levenshtein distance has the closed form
    // ceil(n/7) + ceil(n/5) - ceil(n/35) — the substitute/delete
    // alignment is optimal because dist >= n - LCS and LCS is exactly
    // the surviving originals (OOV matches nothing) — which the oracle
    // restates per doc.
    "eval_wer" -> ((s, dir) => {
      val toks = TF.tokensWs(col("text"))
      val marked = transform(toks, (t, i) =>
        when(i % 5 === 0, concat(lit("@"), col("doc_id").cast("string"),
          lit("_"), i.cast("string"))).otherwise(t))
      val pairs = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", filter(marked, (_, i) => i % 7 =!= 0)).as("cand"),
        col("text").as("ref"))
      TF.wer(pairs, "doc_id", "cand", "ref")
    }),

    // Bradley-Terry strengths over deterministic preference pairs:
    // consecutive docs "compete", the longer one wins, items are the
    // langs — the RLHF preference-data QA fit. The oracle unrolls the
    // identical 20-step MM recursion as a CTE chain (the eval_logreg
    // discipline).
    "eval_bradley_terry" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id"), col("lang").as("la"),
        col("n_chars").as("ca"))
      val b = d.select((col("doc_id") - 1).as("doc_id"),
        col("lang").as("lb"), col("n_chars").as("cb"))
      val m = a.join(b, "doc_id").where(col("ca") =!= col("cb"))
      graft.ops.Analytics.bradleyTerry(
        m.select(
          when(col("ca") > col("cb"), col("la")).otherwise(col("lb")).as("w"),
          when(col("ca") > col("cb"), col("lb")).otherwise(col("la")).as("l")),
        col("w"), col("l"), iters = 20)
    }),

    // Transitivity audit of the same preference pairs: majority
    // tournament over langs, directed 3-cycle (Condorcet) rate among
    // fully-decided triangles.
    "eval_pref_cycles" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id"), col("lang").as("la"),
        col("n_chars").as("ca"))
      val b = d.select((col("doc_id") - 1).as("doc_id"),
        col("lang").as("lb"), col("n_chars").as("cb"))
      val m = a.join(b, "doc_id").where(col("ca") =!= col("cb"))
      graft.ops.Analytics.preferenceCycles(
        m.select(
          when(col("ca") > col("cb"), col("la")).otherwise(col("lb")).as("w"),
          when(col("ca") > col("cb"), col("lb")).otherwise(col("la")).as("l")),
        col("w"), col("l"))
    }),

    // Sentence-aware chunking over synthesized sentence breaks (the
    // corpus has no punctuation — a period every 5 words, glued to the
    // 5th word so whitespace-token mass is INVARIANT): per-doc verdicts
    // prove bounded chunks (or lone over-long sentences), contiguous
    // 0-based indexes, and exact token-mass conservation; the oracle
    // anchors doc/token totals from the RAW corpus.
    "pipeline_chunk_sent" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .where(col("text").isNotNull && trim(col("text")) =!= "")
      val marked = d.select(col("doc_id"),
        regexp_replace(col("text"),
          "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1. ").as("text"))
      val ch = TF.chunkBySentences(marked, "doc_id", "text", 12)
      val perDoc = ch.groupBy("doc_id").agg(
        count(lit(1L)).as("__nc"), max(col("chunk_idx")).as("__mx"),
        sum(col("n_tokens")).as("__tok"),
        min(col("n_tokens") <= 12 || col("n_sentences") === 1).as("__bok"))
      val tot = d.agg(count(lit(1L)).as("n_docs"),
        sum(size(TF.tokensWs(col("text")))).cast("long").as("total_tokens"))
      perDoc.agg(count(lit(1L)).as("__docs"),
          min(col("__mx") + 1 === col("__nc")).as("contiguous_ok"),
          min(col("__bok")).as("bounded_ok"),
          sum(col("__tok")).as("__sum"))
        .crossJoin(tot)
        .select(col("n_docs"), col("total_tokens"),
          (col("__docs") === col("n_docs")).as("all_docs_ok"),
          (col("__sum") === col("total_tokens")).as("mass_ok"),
          col("bounded_ok"), col("contiguous_ok"))
    }),

    // Hashing-trick features: tokens -> md5 bucket mod 1024, (id,
    // bucket, tf) long form — the no-vocabulary featurizer; verdict =
    // the 15 heaviest buckets (total tf + doc frequency).
    "pipeline_hash_features" -> ((s, dir) =>
      TF.hashingTf(t(s, dir, "documents"), "doc_id", "text", 1024)
        .groupBy("bucket")
        .agg(sum(col("tf")).as("total_tf"), count(lit(1L)).as("df"))
        .orderBy(col("total_tf").desc, col("bucket")).limit(15)),

    // Deterministic hash-ring negatives for contrastive training: each
    // anchor's k=3 negatives are the next ids clockwise on the md5
    // ring — two-phase global rank + ONE rank equi-join, no rand(), no
    // all-pairs; the oracle replays the ring from the same md5 order.
    "sim_ring_negatives" -> ((s, dir) =>
      graft.ops.DataPrep.ringNegatives(
          t(s, dir, "embeddings").where(col("vec_id") < 50),
          col("vec_id"), 3)
        .orderBy("id", "off")),

    // Deterministic k-fold assignment keyed on SOURCE (group-level, so
    // correlated documents share a fold — the leakage guard) + the
    // balance audit: one fold rollup, broadcast total, skew verdicts.
    "pipeline_kfold" -> ((s, dir) =>
      graft.ops.DataPrep.kFoldAudit(
          graft.ops.DataPrep.kFold(t(s, dir, "documents"),
            col("source"), 5), "fold", 5)
        .orderBy("fold")),

    // Neyman-optimal stratified allocation of a 1000-row sample across
    // sources by size x stddev, integerized by largest remainder: one
    // stratum-keyed aggregation, then |strata|-bounded arithmetic.
    "pipeline_neyman" -> ((s, dir) =>
      graft.ops.DataPrep.neymanAllocation(
          t(s, dir, "documents"), col("source"), col("n_chars"), 1000L)
        .orderBy("stratum")),

    // Out-of-fold target encoding of source against the deterministic
    // label: the leakage-guarded categorical feature. Encode table is
    // |cats|x|folds|-bounded; the row join is keyed, never broadcast-
    // required.
    "pipeline_target_encode" -> ((s, dir) =>
      graft.ops.DataPrep.targetEncode(
          t(s, dir, "documents"), col("doc_id"), col("source"),
          when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
            .otherwise(0),
          folds = 5, smoothing = 20.0)
        .groupBy(col("source"), col("fold"))
        .agg(count(lit(1L)).as("n"), round(max(col("te")), 6).as("te"))
        .orderBy("source", "fold")),

    // Token-budget selection: best documents by the deterministic
    // quality proxy until 3000 ws-tokens are spent — one two-phase
    // global cumsum (exact integer token counts), then a filter.
    "pipeline_budget_select" -> ((s, dir) =>
      graft.ops.DataPrep.budgetSelect(
          t(s, dir, "documents"), col("doc_id"),
          (col("n_chars") % 97) / lit(96.0),
          TF.tokenCountWs(col("text")), budget = 3000L)
        .agg(count(lit(1L)).as("n_selected"),
          max(col("cum_tokens")).as("tokens_used"),
          round(min((col("n_chars") % 97) / lit(96.0)), 6)
            .as("cutoff_score"))),

    // Unbiased pass@k (Chen et al. 2021) over deterministic pseudo
    // samples: one task rollup, estimator on the task-bounded table;
    // tasks with n < k excluded from that k, visibly.
    "eval_pass_at_k" -> ((s, dir) =>
      graft.ops.Analytics.passAtK(
        t(s, dir, "documents"),
        col("doc_id") % 40,
        (graft.ops.DataPrep.hashBucket(col("doc_id"), 100) < 30).cast("int"),
        Seq(1, 5, 10))),

    // Demographic-parity + equalized-odds gaps of a deterministic
    // pseudo predictor across sources: one slice rollup, spread verdict
    // on the bounded table; one-class slices excluded from that spread.
    "eval_parity" -> ((s, dir) =>
      graft.ops.Analytics.parityGaps(
        t(s, dir, "documents"), col("source"),
        when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
          .otherwise(0),
        (graft.ops.DataPrep.hashBucket(col("doc_id"), 100) < 45).cast("int"))),

    // Curriculum mix schedule: anneal from the natural per-source doc
    // share to the uniform mix over 5 checkpoints, 10k tokens each,
    // largest-remainder integerized per step; everything after the one
    // source rollup rides the steps x sources grid.
    "pipeline_mix_schedule" -> ((s, dir) => {
      val src = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1L)).as("__c"))
      val tot = src.agg(sum(col("__c")).as("__n"),
        count(lit(1L)).cast("double").as("__k"))
      val w = src.crossJoin(tot) // 1-row totals
        .select(col("source"), (col("__c") / col("__n")).as("w_start"),
          (lit(1.0) / col("__k")).as("w_end"))
      graft.ops.DataPrep.mixSchedule(w, steps = 5, stepBudget = 10000L)
        .orderBy("step", "source")
    }),

    // OLS with HC0 (White) robust standard errors: moments scan +
    // residual-moment scan, bounded driver sandwich algebra; the oracle
    // solves the 2x2 case in closed form including the sandwich.
    "eval_ols_robust" -> ((s, dir) =>
      graft.ops.Analytics.olsRobustSe(
          t(s, dir, "documents"),
          Seq((col("doc_id") % 31) / lit(30.0)),
          (col("n_chars") % 89) / lit(88.0))
        .orderBy("term")),

    // One-scan ridge regression: normal-equation moments in a single
    // aggregation (no explode, no shuffle beyond the final agg), driver
    // Cholesky over the 3x3 system. The oracle solves the SAME system
    // by Cramer's rule from the same moments.
    "eval_ridge" -> ((s, dir) =>
      graft.ops.Analytics.ridgeRegression(
        t(s, dir, "documents"),
        Seq((col("n_chars") % 97) / lit(96.0),
          (col("doc_id") % 31) / lit(30.0)),
        (col("n_chars") % 89) / lit(88.0), lambda = 1.0)),

    // In-engine quality-classifier training: full-batch logistic GD
    // with bounded driver state (d+1 doubles), one aggregation per
    // iteration, weights shipped as literals. The oracle UNROLLS the
    // same 8 iterations as a SQL CTE chain — a true differential check
    // of the whole optimization, not just the final scoring pass.
    "eval_logreg" -> ((s, dir) =>
      graft.ops.Analytics.logisticRegressionGD(
        t(s, dir, "documents"),
        Seq((col("n_chars") % 97) / lit(96.0),
          (col("doc_id") % 31) / lit(30.0)),
        when(col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0, 1)
          .otherwise(0),
        iters = 8, lr = 1.0)),

    // IPW treatment effect on the eval_logreg propensity model:
    // treatment = the same pseudo-label, outcome = n_chars % 89,
    // clipped Hajek means + per-arm effective sample sizes. The oracle
    // unrolls the identical 8-step GD chain, rounds the weights exactly
    // as the engine ships them, and restates the weighting.
    "q_ipw" -> ((s, dir) =>
      graft.ops.Analytics.ipwEffect(
        t(s, dir, "documents"),
        col("n_chars") % 89,
        col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0,
        Seq((col("n_chars") % 97) / lit(96.0),
          (col("doc_id") % 31) / lit(30.0)),
        iters = 8, lr = 1.0)),

    // Doubly-robust AIPW on the q_ipw panel (one covariate so the
    // oracle can replay BOTH nuisances exactly): the GD propensity
    // chain PLUS per-arm Cholesky OLS outcome models, combined in the
    // influence-function estimator; ate_om beside ate flags nuisance
    // disagreement.
    "q_aipw" -> ((s, dir) =>
      graft.ops.Analytics.aipwEffect(
        t(s, dir, "documents"),
        col("n_chars") % 89,
        col("doc_id") % 3 === 0 || col("n_chars") % 5 === 0,
        Seq((col("n_chars") % 97) / lit(96.0)),
        iters = 8, lr = 1.0)),

    // Oaxaca-Blinder decomposition of the en-vs-rest outcome gap: how
    // much of it is the covariate profile (priced at the reference
    // arm's Cholesky-OLS coefficients) vs unexplained — the "why do
    // sources differ" split.
    "q_oaxaca" -> ((s, dir) =>
      graft.ops.Analytics.oaxacaBlinder(
        t(s, dir, "documents"),
        col("n_chars") % 89,
        col("lang") === "en",
        Seq((col("n_chars") % 97) / lit(96.0)))),

    // Two-proportion power / MDE readout of a deterministic A/B split:
    // the design-sanity row (minimum detectable lift at 80% power, and
    // the power the observed lift actually had) — one 4-count rollup.
    "q_power_mde" -> ((s, dir) =>
      graft.ops.Analytics.powerMde(t(s, dir, "documents"),
        col("doc_id") % 2 === 0, col("n_chars") % 7 < 3)),

    // Empirical-Bayes shrinkage of per-source pass rates: Beta prior
    // from the cross-source rate moments, each source reported at its
    // posterior mean — the leaderboard fix for tiny-source 100% rates.
    "q_eb_shrinkage" -> ((s, dir) =>
      graft.ops.Analytics.ebShrinkage(t(s, dir, "documents"),
        col("source"), col("n_chars") % 5 === 0).orderBy("grp")),

    // TOST equivalence of en vs rest mean doc length within +/-50
    // chars: certifies "the same, within margin" — the claim a plain
    // t-test's non-rejection never supports; 90% CI shipped beside the
    // two one-sided verdicts.
    "q_tost" -> ((s, dir) =>
      graft.ops.Analytics.tostEquivalence(t(s, dir, "documents"),
        col("n_chars"), col("lang") === "en", delta = 50.0)),

    // Chapman capture-recapture over two deterministic pseudo-detector
    // catch lists: estimated true dup population, what the union
    // actually caught, and the remainder still slipping through.
    "dedup_capture_recapture" -> ((s, dir) =>
      graft.ops.Analytics.captureRecapture(t(s, dir, "documents"),
        col("n_chars") % 3 === 0 && col("doc_id") % 2 === 0,
        col("n_chars") % 3 === 0 && col("n_chars") % 5 < 3)),

    // Kneser-Ney bigram perplexity per language: the corpus-drift /
    // filtering readout with continuation-count smoothing; all model
    // tables vocabulary-bounded rollups, scoring joins the gram-bounded
    // per-language count table.
    "text_kn_ppl" -> ((s, dir) =>
      TF.kneserNeyBigramScores(t(s, dir, "documents"), "lang", "text")
        .select(col("grp").as("lang"), col("n_bigrams"),
          col("avg_logp"), col("ppl"))
        .orderBy("lang")),

    // Source-vocabulary similarity matrix: pairwise Jaccard between
    // per-source distinct term sets — term-keyed equi self-join over
    // the vocabulary-bounded (source, term) table; the corpus-mixing /
    // cross-source-dedup diagnostic.
    "pipeline_source_sim" -> ((s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("source"), explode(TF.tokensWs(lower(col("text")))).as("term"))
        .distinct()
      val sizes = terms.groupBy("source").agg(count(lit(1L)).as("sz"))
      val inter = terms.toDF("src_a", "term")
        .join(terms.toDF("src_b", "term2"), col("term") === col("term2"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1L)).as("n_common"))
      inter.join(sizes.toDF("src_a", "sz_a"), "src_a")
        .join(sizes.toDF("src_b", "sz_b"), "src_b")
        .select(col("src_a"), col("src_b"), col("n_common"),
          col("sz_a"), col("sz_b"),
          round(col("n_common") /
            (col("sz_a") + col("sz_b") - col("n_common")), 6).as("jaccard"))
        .orderBy("src_a", "src_b")
    }),

    // Triangle count + global clustering over the same co-occurrence
    // graph: degree-oriented wedge generation (each wedge at exactly
    // one pivot, out-degree O(√m)) closed by a (least, greatest)
    // equi-join — no neighbor-list self-join blow-up; the oracle is an
    // a<b<c three-way join.
    "graph_triangles" -> ((s, dir) => {
      val edges = graft.functions.Graph
        .wordCooccurrenceEdges(t(s, dir, "documents"), "text")
      graft.functions.Graph.triangleStats(edges, "src", "dst")
    }),

    // Degree assortativity of the same word graph: do high-degree words
    // co-occur with each other (r > 0) or with rare words (r < 0) —
    // Pearson over symmetrized endpoint degrees, all moments exact
    // integers.
    "graph_assortativity" -> ((s, dir) => {
      val edges = graft.functions.Graph
        .wordCooccurrenceEdges(t(s, dir, "documents"), "text")
      graft.functions.Graph.degreeAssortativity(edges, "src", "dst")
    }),

    // Deterministic k-per-group sample: 3 docs per source ranked by the
    // seeded md5 shuffle key — WindowGroupLimit pushes the rank cut
    // below the one group-keyed exchange.
    "pipeline_reservoir" -> ((s, dir) =>
      graft.ops.DataPrep.groupSample(t(s, dir, "documents"),
          Seq(col("source")), col("doc_id"), k = 3, seed = 7L)
        .select(col("source"), col("doc_id"), col("sample_rank"))
        .orderBy("source", "sample_rank")),

    // Globally-sorted sharded export: range partition + in-shard sort,
    // audited by a PHYSICAL streaming pass (adjacent-pair inversions per
    // shard) + cross-shard range-overlap check over the ≤8-row manifest.
    // Shard boundaries come from range sampling (run-dependent), so the
    // oracle-stable surface is the rolled-up verdict: every row
    // accounted, zero inversions, zero overlapping shard ranges, exact
    // global key span.
    "pipeline_sorted_export" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = graft.ops.Layout.rangeSortedAudit(
        t(s, dir, "orders"), "o_totalprice", numShards = 8)
      // the manifest is ≤ numShards rows — the unpartitioned window is a
      // driver-scale sort, not a data-scale one
      val w = Window.orderBy(col("min_key"), col("shard"))
      m.withColumn("__prev_max", lag(col("max_key"), 1).over(w))
        .agg(sum(col("n_rows")).as("total_rows"),
          sum(col("inversions")).as("n_inversions"),
          sum(when(col("__prev_max") > col("min_key"), 1L).otherwise(0L))
            .as("n_overlaps"),
          round(min(col("min_key")), 2).as("min_key"),
          round(max(col("max_key")), 2).as("max_key"))
    }),

    // Cross-table fuzzy record linkage: customer master vs a feed with
    // every name's first char corrupted — the deletion-neighborhood
    // equi-join links each feed row back to EXACTLY its master (any
    // other master is ≥ 2 edits away); matching id checksums prove the
    // 1:1 alignment, and the oracle recomputes every link with
    // DuckDB's levenshtein over the length-banded cross join.
    "dedup_linkage" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val master = cust.select(col("c_custkey").as("mid"), col("c_name").as("mname"))
      val feed = cust.select((col("c_custkey") + 1000000L).as("fid"),
        concat(lit("X"), expr("substr(c_name, 2)")).as("fname"))
      Dedup.linkPairs(master, "mid", "mname", feed, "fid", "fname", maxDist = 1)
        .groupBy("dist")
        .agg(count(lit(1L)).as("n_links"),
          sum(col("id_a")).as("checksum_master"),
          sum(col("id_b") - 1000000L).as("checksum_feed"))
        .orderBy("dist")
    }),

    // Winsorization (transform companion of robustStats): clip at the
    // exact 5%/95% percentiles (oracle-audit mode; approx sketch is
    // the API default) — thresholds fold into the scan as literals.
    "pipeline_winsorize" -> ((s, dir) =>
      graft.ops.DataPrep.winsorize(
          t(s, dir, "lineitem").select(col("l_extendedprice")),
          "l_extendedprice", lo = 0.05, hi = 0.95, exact = true)
        .agg(count(lit(1L)).as("n"),
          sum(when(col("was_clipped"), 1L).otherwise(0L)).as("n_clipped"),
          round(avg(col("l_extendedprice_w")), 4).as("avg_w"),
          round(min(col("l_extendedprice_w")), 4).as("min_w"),
          round(max(col("l_extendedprice_w")), 4).as("max_w"))),

    // Median imputation per event type over planted NULLs (every 7th
    // event): per-group exact medians broadcast into the scan; the
    // fill value surfaces as min-over-imputed (all imputed rows in a
    // group share the group median).
    "pipeline_impute" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")).as("v"))
      graft.ops.DataPrep.imputeByGroup(ev, "v", Seq("event_type"),
          stat = "median", exact = true)
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(when(col("was_imputed"), 1L).otherwise(0L)).as("n_imputed"),
          round(avg(col("v_f")), 4).as("avg_filled"),
          round(min(when(col("was_imputed"), col("v_f"))), 4).as("fill_value"))
        .orderBy("event_type")
    }),

    // Survivorship golden records: per duplicate cluster, each field
    // takes the newest NON-NULL value (stale-but-filled beats
    // fresh-but-NULL) in ONE cluster-keyed aggregate of
    // max(struct(version, value)) — no per-field joins or windows.
    "pipeline_golden" -> ((s, dir) => {
      val src = t(s, dir, "events").select(
        (col("user_id") % 50).as("cluster"), col("event_id").as("version"),
        when(col("event_id") % 3 === 0, col("value")).as("f_val"),
        col("event_type").as("f_type"))
      graft.ops.DataPrep.goldenRecords(src, "cluster", "version",
          Seq("f_val", "f_type"))
        .select(col("cluster"), round(col("f_val"), 4).as("f_val"),
          col("f_type"), col("n_members"))
        .orderBy("cluster")
    }),

    // Weighted sample without replacement (A-ES, −ln(u)/w draw keys
    // from the seeded md5 uniform): 25 docs drawn proportional to
    // length — in-scan key arithmetic + TakeOrdered, engine-portable
    // and restated key-for-key by the oracle.
    "pipeline_weighted_sample" -> ((s, dir) =>
      graft.ops.DataPrep.weightedSample(t(s, dir, "documents"),
          col("doc_id"), col("n_chars"), k = 25, seed = 7L)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("aes_key"), 6).as("aes_key"))),

    // Per-source score normalization (z / min-max / percentile rank) of
    // the length signal — the calibration step before mixing quality
    // scores ACROSS sources, whose raw scales never agree. One
    // source-keyed exchange carries all three windows.
    "pipeline_score_norm" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
      val wo = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"),
          round((col("n_chars") - avg(col("n_chars")).over(w)) /
            stddev_samp(col("n_chars")).over(w), 6).as("z"),
          round((col("n_chars") - min(col("n_chars")).over(w)) /
            (max(col("n_chars")).over(w) - min(col("n_chars")).over(w)), 6)
            .as("minmax"),
          round(percent_rank().over(wo), 6).as("pct_rank"))
        .orderBy("doc_id")
    }),

    // Fuzzy (edit-distance ≤ 1) pair mining over customer names via
    // SymSpell deletion-neighborhood equi-join + exact levenshtein
    // verify; the oracle recomputes every pair with DuckDB's native
    // levenshtein over the length-banded cross join.
    "dedup_fuzzy" -> ((s, dir) =>
      Dedup.editDistancePairs(t(s, dir, "customer"), "c_custkey", "c_name",
          maxDist = 1)
        .groupBy("dist")
        .agg(count(lit(1L)).as("n_pairs"),
          sum(col("id_a") + col("id_b")).as("id_checksum"))
        .orderBy("dist")),

    // Streaming inverted-index ingest: three arrival files stream
    // through foreachBatch, each batch indexed alone and appended as
    // its own batch=N partition family; conjunctive search over the
    // accumulated artifact (bucket-pruned) must equal the whole-corpus
    // search — retrieval's version of the near-dup ingest protocol.
    "text_stream_index" -> ((s, dir) => {
      import graft.functions.InvertedIndex
      val docs = t(s, dir, "documents")
        .where(col("text").isNotNull && trim(col("text")) =!= "")
        .select("doc_id", "text")
      val root = new java.io.File(
        s"/root/repo/target/fixtures/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/idx_ingest")
      def wipe(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(wipe)); f.delete(); ()
      }
      wipe(root); root.mkdirs()
      val stage = new java.io.File(root, "arrivals"); stage.mkdirs()
      val now = System.currentTimeMillis()
      (0 until 3).foreach { i =>
        val tmp = new java.io.File(root, s"__tmp$i")
        docs.where(pmod(col("doc_id"), lit(3)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(stage, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        wipe(tmp)
        dst.setLastModified(now - 300000L + i * 60000L)
      }
      val indexDir = new java.io.File(root, "index").getPath
      // NOT volume-size-wrapped (r17 measured rejection, with
      // dedup_stream_ingest): foreachBatch, no state stores — the
      // partition count doesn't drive this row's cost.
      val q = graft.streaming.Streams.indexIngest(
          s.readStream.schema(docs.schema).option("maxFilesPerTrigger", "1")
            .parquet(stage.getPath),
          "doc_id", "text", indexDir, buckets = 16)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", new java.io.File(root, "ckpt").getPath)
        .start()
      try q.awaitTermination() finally q.stop()
      val terms = Seq("merge", "filter", "group")
      InvertedIndex.searchAll(
          InvertedIndex.pruneToTerms(s.read.parquet(indexDir), terms, 16), terms)
        .orderBy("doc_id")
    }),

    // Dedup-threshold sweep: exact Jaccard pair counts at τ = 51/66/80
    // on the audit slice — the aggressiveness curve that says what a
    // threshold choice actually costs in collapsed pairs before
    // committing the full corpus to one.
    // ONE featurize+verify pass at the LOWEST τ: its exact-Jaccard pair
    // table (id_a, id_b, jaccard) is a superset of every higher
    // threshold's, so the 66/80 counts are conditional sums over the
    // τ=51 pairs — not three full corpus re-featurizations (the r9
    // bench's 3rd-most-expensive query was exactly that, at 3× cost).
    "dedup_threshold_sweep" -> ((s, dir) => {
      val slice = t(s, dir, "documents").where(col("doc_id") < 1000)
      val pairs = Dedup.jaccardNearDupPairs(slice, "doc_id", "text",
        shingleK = 5, tauPct = 51, keepCounts = true)
      val taus = Seq(51, 66, 80)
      val counts = pairs.agg(
        sum(when(col("inter") * 100 >= col("uni") * taus.head, 1L)
          .otherwise(0L)).as(s"__n${taus.head}"),
        taus.tail.map(tau =>
          sum(when(col("inter") * 100 >= col("uni") * tau, 1L)
            .otherwise(0L)).as(s"__n$tau")): _*)
      taus.map(tau => counts.select(lit(tau).as("tau_pct"),
          coalesce(col(s"__n$tau"), lit(0L)).as("n_pairs")))
        .reduce(_ unionByName _).orderBy("tau_pct")
    }),

    // LSH banding S-curve audit: P(candidate | jaccard s) =
    // 1 − (1 − s^r)^b for the engine's default MinHash config
    // (b=16, r=4) over a similarity grid — the closed-form "explain
    // your banding" table (collision probability at the τ=0.51
    // verify threshold, the false-candidate mass below it, the miss
    // mass above it). Pure arithmetic, zero data read.
    "dedup_lsh_curve" -> ((s, dir) =>
      s.range(21).toDF("i")
        .select((col("i") / 20.0).as("s"))
        .select(col("s"),
          round(lit(1.0) - pow(lit(1.0) - pow(col("s"), 4), 16), 6)
            .as("p_candidate"),
          lit(16).as("bands"), lit(4).as("rows_per_band"))
        .orderBy("s")),

    // Zipf-fit corpus sanity: OLS slope of ln(freq) on ln(rank) over
    // the top-50 vocabulary — natural corpora run near −1; a slope far
    // off flags templated or degenerate text. Vocabulary-bounded
    // count rollup + a 50-row fit.
    "text_zipf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "documents")
        .select(explode(TF.tokensWs(lower(col("text")))).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1L)).as("n"))
      // limit-then-rank: TakeOrdered cuts the vocabulary to 50 rows
      // (per-partition heaps, no global sort), and only THEN does the
      // single-partition ranking window run — over 50 rows, not |vocab|
      val ranked = counts
        .orderBy(col("n").desc, col("term")).limit(50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("term"))))
        .select(log(col("rank").cast("double")).as("x"),
          log(col("n").cast("double")).as("y"))
      ranked.agg(count(lit(1L)).as("n_terms"),
        round((count(lit(1L)) * sum(col("x") * col("y")) -
          sum(col("x")) * sum(col("y"))) /
          (count(lit(1L)) * sum(col("x") * col("x")) -
            sum(col("x")) * sum(col("x"))), 6).as("zipf_slope"))
    }),

    // Blocking-quality evaluation: the deletion-key candidate set vs
    // the exact edit-distance-1 ground truth on a bounded subset —
    // pair completeness (MUST be 1.0: the SymSpell neighborhood is
    // complete by construction) and reduction ratio (how much of the
    // all-pairs quadratic the blocking avoided).
    "dedup_blocking_eval" -> ((s, dir) => {
      val sub = t(s, dir, "customer").where(col("c_custkey") < 1000)
        .select(col("c_custkey"), col("c_name"))
      val cand = Dedup.blockingCandidates(sub, "c_custkey", "c_name", 1)
      val a = sub.select(col("c_custkey").as("ia"), col("c_name").as("sa"))
      val b = sub.select(col("c_custkey").as("ib"), col("c_name").as("sb"))
      val truth = a.crossJoin(b).where(col("ia") < col("ib"))
        .where(levenshtein(col("sa"), col("sb"), 1) >= 0)
        .select(col("ia").as("id_a"), col("ib").as("id_b"))
      truth.agg(count(lit(1L)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1L)).as("n_candidates")))
        .crossJoin(truth.join(cand, Seq("id_a", "id_b"), "left_semi")
          .agg(count(lit(1L)).as("n_caught")))
        .crossJoin(sub.agg(count(lit(1L)).as("__n")))
        .select(col("n_truth"), col("n_candidates"), col("n_caught"),
          (col("n_caught") === col("n_truth")).as("complete"),
          round(lit(1.0) - col("n_candidates") /
            (col("__n") * (col("__n") - 1) / 2.0), 6).as("reduction_ratio"))
    }),
  )

  /** First `nibbles`·4 md5 bits of `expr` as a BIGINT — the
    * version-proof per-nibble strpos form (see CheckQueries.duckRowHash;
    * the '0x' cast idiom proved DuckDB-version-sensitive: the r09 red
    * rows). */
  private[queries] def duckHex(expr: String, nibbles: Int): String =
    (0 until nibbles).map { i =>
      val w = 1L << (4 * (nibbles - 1 - i))
      s"(CAST(strpos('0123456789abcdef', substr(md5($expr), ${i + 1}, 1)) " +
        s"AS BIGINT) - 1) * $w"
    }.mkString("(", " + ", ")")

  private[queries] def duckHex16(expr: String): String = duckHex(expr, 4)

  /** The eval_logreg oracle: the SAME full-batch logistic GD unrolled
    * as a SQL CTE chain — w0 is zeros, each iteration computes the mean
    * gradients from the previous weight row and derives the next (lr=1,
    * so wᵏ = wᵏ⁻¹ − g exactly mirrors the engine's w − lr·g). Generated
    * mechanically so the iteration count stays in lockstep with the
    * query. */
  private def logregOracle(iters: Int): String = {
    val sig = "1/(1+exp(-(w.b + w.w1*d.x1 + w.w2*d.x2)))"
    val sb = new StringBuilder(
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE)/96 AS x1,
        |        CAST(doc_id % 31 AS DOUBLE)/30 AS x2,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
        |       FROM documents),
        |w0 AS (SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS w1,
        |        CAST(0 AS DOUBLE) AS w2)""".stripMargin)
    for (k <- 1 to iters) {
      sb.append(s""",
        |g$k AS (SELECT avg($sig - d.y) AS gb,
        |        avg(($sig - d.y) * d.x1) AS g1,
        |        avg(($sig - d.y) * d.x2) AS g2
        |       FROM d, w${k - 1} w),
        |w$k AS (SELECT w.b - gb AS b, w.w1 - g1 AS w1, w.w2 - g2 AS w2
        |       FROM w${k - 1} w, g$k)""".stripMargin)
    }
    sb.append(s""",
        |f AS (SELECT d.y, $sig AS p, w.b, w.w1, w.w2 FROM d, w$iters w)
        |SELECT round(max(b), 6) AS w_b, round(max(w1), 6) AS w_1,
        | round(max(w2), 6) AS w_2,
        | round(avg(-(y * ln(p) + (1 - y) * ln(1 - p))), 6) AS loss,
        | round(avg(CASE WHEN (CASE WHEN p > 0.5 THEN CAST(1 AS DOUBLE)
        |     ELSE CAST(0 AS DOUBLE) END) = y
        |   THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6) AS accuracy,
        | CAST(count(*) AS BIGINT) AS n
        |FROM f""".stripMargin)
    sb.toString
  }

  /** The q_ipw oracle: the SAME unrolled GD chain as [[logregOracle]],
    * weights rounded exactly as the engine ships them, then the
    * clipped Hajek weighting restated. */
  private def ipwOracle(iters: Int): String = {
    val sig = "1/(1+exp(-(w.b + w.w1*d.x1 + w.w2*d.x2)))"
    val sb = new StringBuilder(
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE)/96 AS x1,
        |        CAST(doc_id % 31 AS DOUBLE)/30 AS x2,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y,
        |        CAST(n_chars % 89 AS DOUBLE) AS o
        |       FROM documents),
        |w0 AS (SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS w1,
        |        CAST(0 AS DOUBLE) AS w2)""".stripMargin)
    for (k <- 1 to iters) {
      sb.append(s""",
        |g$k AS (SELECT avg($sig - d.y) AS gb,
        |        avg(($sig - d.y) * d.x1) AS g1,
        |        avg(($sig - d.y) * d.x2) AS g2
        |       FROM d, w${k - 1} w),
        |w$k AS (SELECT w.b - gb AS b, w.w1 - g1 AS w1, w.w2 - g2 AS w2
        |       FROM w${k - 1} w, g$k)""".stripMargin)
    }
    sb.append(s""",
        |wr AS (SELECT round(b, 6) AS b, round(w1, 6) AS w1,
        |        round(w2, 6) AS w2 FROM w$iters),
        |f AS (SELECT d.o, d.y AS t,
        |  least(greatest($sig, 0.05), 0.95) AS p FROM d, wr w),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(t) AS nt,
        |  sum(t / p) AS swt, sum(t / p * o) AS swty,
        |  sum(t / p * (t / p)) AS swt2,
        |  sum((1 - t) / (1 - p)) AS swc,
        |  sum((1 - t) / (1 - p) * o) AS swcy,
        |  sum((1 - t) / (1 - p) * ((1 - t) / (1 - p))) AS swc2 FROM f)
        |SELECT n, CAST(nt AS BIGINT) AS n_t, CAST(n - nt AS BIGINT) AS n_c,
        | CASE WHEN swt > 0 THEN round(swty / swt, 6) END AS mu_t,
        | CASE WHEN swc > 0 THEN round(swcy / swc, 6) END AS mu_c,
        | CASE WHEN swt > 0 AND swc > 0
        |  THEN round(swty / swt - swcy / swc, 6) END AS ate,
        | CASE WHEN swt2 > 0 THEN round(swt * swt / swt2, 6) END AS ess_t,
        | CASE WHEN swc2 > 0 THEN round(swc * swc / swc2, 6) END AS ess_c
        |FROM a""".stripMargin)
    sb.toString
  }

  /** The q_aipw oracle: the single-covariate GD propensity chain (the
    * [[ipwOracle]] recurrence), the per-arm 2×2 Cholesky OLS solved
    * step-for-step in the engine's factor/substitution order (l00, l10,
    * l11, z0, z1, back-substitution — all rounded at 6dp like the
    * engine's driver-side betas), then the ψ rollup. */
  private def aipwOracle(iters: Int): String = {
    val sig = "1/(1+exp(-(w.b + w.w1*d.x1)))"
    val sb = new StringBuilder(
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE)/96 AS x1,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y,
        |        CAST(n_chars % 89 AS DOUBLE) AS o
        |       FROM documents),
        |w0 AS (SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS w1)"""
        .stripMargin)
    for (k <- 1 to iters) {
      sb.append(s""",
        |g$k AS (SELECT avg($sig - d.y) AS gb,
        |        avg(($sig - d.y) * d.x1) AS g1
        |       FROM d, w${k - 1} w),
        |w$k AS (SELECT w.b - gb AS b, w.w1 - g1 AS w1
        |       FROM w${k - 1} w, g$k)""".stripMargin)
    }
    def ols(tag: String, pred: String): String = s""",
        |a$tag AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x1) AS sx,
        |        sum(x1 * x1) AS sxx, sum(o) AS sy, sum(x1 * o) AS sxy
        |       FROM d WHERE $pred),
        |c$tag AS (SELECT *, sqrt(n) AS l00 FROM a$tag),
        |e$tag AS (SELECT *, sx / l00 AS l10, sy / l00 AS z0 FROM c$tag),
        |f$tag AS (SELECT *, sqrt(sxx - l10 * l10) AS l11 FROM e$tag),
        |h$tag AS (SELECT *, (sxy - l10 * z0) / l11 AS z1 FROM f$tag),
        |i$tag AS (SELECT *, z1 / l11 AS bx FROM h$tag),
        |b$tag AS (SELECT round((z0 - l10 * bx) / l00, 6) AS b0,
        |        round(bx, 6) AS b1 FROM i$tag)""".stripMargin
    sb.append(ols("t", "y = 1"))
    sb.append(ols("c", "y = 0"))
    sb.append(s""",
        |wr AS (SELECT round(b, 6) AS b, round(w1, 6) AS w1 FROM w$iters),
        |f AS (SELECT d.o, d.y AS t, d.x1,
        |        least(greatest($sig, 0.05), 0.95) AS p,
        |        bt.b0 + bt.b1 * d.x1 AS mu1,
        |        bc.b0 + bc.b1 * d.x1 AS mu0
        |       FROM d, wr w, bt, bc),
        |ps AS (SELECT t, mu1 - mu0 + t * (o - mu1) / p
        |         - (1 - t) * (o - mu0) / (1 - p) AS psi,
        |        mu1 - mu0 AS dom FROM f),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(t) AS nt,
        |        avg(psi) AS ate, avg(dom) AS om, stddev_samp(psi) AS sd
        |       FROM ps)
        |SELECT n, CAST(nt AS BIGINT) AS n_t, CAST(n - nt AS BIGINT) AS n_c,
        | round(ate, 6) AS ate, round(om, 6) AS ate_om,
        | round(sd / sqrt(n), 6) AS se,
        | CASE WHEN sd > 0 THEN round(ate / (sd / sqrt(n)), 6) END AS z
        |FROM a""".stripMargin)
    sb.toString
  }

  /** The seeded Rademacher sign matrix of Similarity.randomProject,
    * replayed in plain Scala long arithmetic (same xor-fold/multiply
    * rounds, every intermediate masked to 32 bits) and formatted as a
    * DuckDB nested-list literal for the sim_project / sim_mmd oracles. */
  private def rffSignRows(outDim: Int, dim: Int, seed: Long): String =
    (0 until outDim).map { j =>
      (0 until dim).map { i =>
        val m = 4294967295L
        val h1 = i.toLong * 2654435761L + j.toLong * 97L + seed
        val h2 = (((h1 >> 13) ^ h1) & m) * 40503L
        val h3 = (((h2 >> 11) ^ h2) & m) * 69069L
        val h4 = (h3 >> 9) ^ h3
        1L - 2L * ((h4 >> 3) & 1L)
      }.mkString("[", ",", "]")
    }.mkString("[", ", ", "]")

  /** The eval_platt oracle: the single-covariate GD recurrence with the
    * score as the one feature, rounded final weights, then Brier
    * before/after in one scoring pass. */
  private def plattOracle(iters: Int): String = {
    val sig = "1/(1+exp(-(w.b + w.w1*d.x1)))"
    val sb = new StringBuilder(
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE)/96 AS x1,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
        |       FROM documents),
        |w0 AS (SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS w1)"""
        .stripMargin)
    for (k <- 1 to iters) {
      sb.append(s""",
        |g$k AS (SELECT avg($sig - d.y) AS gb,
        |        avg(($sig - d.y) * d.x1) AS g1
        |       FROM d, w${k - 1} w),
        |w$k AS (SELECT w.b - gb AS b, w.w1 - g1 AS w1
        |       FROM w${k - 1} w, g$k)""".stripMargin)
    }
    sb.append(s""",
        |wr AS (SELECT round(b, 6) AS b, round(w1, 6) AS w1 FROM w$iters),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        avg((d.x1 - d.y) * (d.x1 - d.y)) AS braw,
        |        avg(($sig - d.y) * ($sig - d.y)) AS bcal
        |       FROM d, wr w)
        |SELECT n, (SELECT w1 FROM wr) AS slope, (SELECT b FROM wr)
        |   AS intercept,
        | round(braw, 6) AS brier_raw, round(bcal, 6) AS brier_platt
        |FROM a""".stripMargin)
    sb.toString
  }

  /** The eval_shift_weighted oracle: the single-covariate GD domain-
    * classifier recurrence (label = target-domain flag), rounded
    * weights, clipped density ratio, one weighted rollup. */
  private def shiftOracle(iters: Int): String = {
    val sig = "1/(1+exp(-(w.b + w.w1*d.x1)))"
    val sb = new StringBuilder(
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE)/96 AS x1,
        |        CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE)
        |             ELSE CAST(0 AS DOUBLE) END AS y,
        |        CASE WHEN n_chars % 7 < 3 THEN CAST(1 AS DOUBLE)
        |             ELSE CAST(0 AS DOUBLE) END AS m
        |       FROM documents),
        |w0 AS (SELECT CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS w1)"""
        .stripMargin)
    for (k <- 1 to iters) {
      sb.append(s""",
        |g$k AS (SELECT avg($sig - d.y) AS gb,
        |        avg(($sig - d.y) * d.x1) AS g1
        |       FROM d, w${k - 1} w),
        |w$k AS (SELECT w.b - gb AS b, w.w1 - g1 AS w1
        |       FROM w${k - 1} w, g$k)""".stripMargin)
    }
    sb.append(s""",
        |wr AS (SELECT round(b, 6) AS b, round(w1, 6) AS w1 FROM w$iters),
        |f AS (SELECT d.y, d.m,
        |        least(greatest($sig, 0.05), 0.95) AS p FROM d, wr w),
        |f2 AS (SELECT y, m, p / (1 - p) AS wt FROM f),
        |a AS (SELECT sum(1 - y) AS ns, sum(y) AS nt,
        |        avg(CASE WHEN y = 0 THEN m END) AS ms,
        |        avg(CASE WHEN y = 1 THEN m END) AS mt,
        |        sum((1 - y) * wt) AS sw, sum((1 - y) * wt * m) AS swm,
        |        sum((1 - y) * wt * wt) AS sw2 FROM f2)
        |SELECT CAST(ns AS BIGINT) AS n_source, CAST(nt AS BIGINT)
        |   AS n_target,
        | round(ms, 6) AS metric_source, round(mt, 6) AS metric_target,
        | CASE WHEN sw > 0 THEN round(swm / sw, 6) END AS metric_weighted,
        | CASE WHEN sw2 > 0 THEN round(sw * sw / sw2, 6) END AS ess
        |FROM a""".stripMargin)
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    "eval_logreg" -> logregOracle(8),
    "q_ipw" -> ipwOracle(8),
    "q_aipw" -> aipwOracle(8),
    "eval_platt" -> plattOracle(8),
    "eval_shift_weighted" -> shiftOracle(8),

    "eval_ccc" ->
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE) AS x,
        |        CAST(n_chars % 89 AS DOUBLE) AS y FROM documents),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |        sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
        |        sum(x * y) AS sxy FROM d),
        |m AS (SELECT n, sx / n AS mx, sy / n AS my,
        |        sxx / n - (sx / n) * (sx / n) AS vx,
        |        syy / n - (sy / n) * (sy / n) AS vy,
        |        sxy / n - (sx / n) * (sy / n) AS cxy FROM a),
        |f AS (SELECT *, mx - my AS bias,
        |        sqrt(vx + vy - 2.0 * cxy) AS sdd FROM m)
        |SELECT n,
        | CASE WHEN n > 0 THEN round(bias, 6) END AS bias,
        | CASE WHEN n >= 2
        |      THEN round(bias - 1.959963984540054 * sdd, 6) END AS loa_lo,
        | CASE WHEN n >= 2
        |      THEN round(bias + 1.959963984540054 * sdd, 6) END AS loa_hi,
        | CASE WHEN n >= 2 AND vx > 0 AND vy > 0
        |      THEN round(cxy / sqrt(vx * vy), 6) END AS pearson_r,
        | CASE WHEN n >= 2 AND vx > 0 AND vy > 0
        |      THEN round(2.0 * cxy / (vx + vy + bias * bias), 6) END
        |   AS ccc
        |FROM f""".stripMargin,

    "eval_auc_ci" ->
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE) / 96 AS s,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN 1.0 ELSE 0.0 END AS y FROM documents),
        |h AS (SELECT s, CAST(count(*) AS BIGINT) AS c, sum(y) AS pos
        |      FROM d GROUP BY 1),
        |rk AS (SELECT pos, sum(c) OVER (ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        - (c + 1) / CAST(2 AS DOUBLE) + 1 AS r FROM h),
        |sm AS (SELECT sum(pos * r) AS rpos, sum(pos) AS np FROM rk),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |a AS (SELECT np, n - np AS nn,
        |       (rpos - np * (np + 1) / 2) / (np * (n - np)) AS auc
        |      FROM sm, tt),
        |b AS (SELECT *, auc / (2 - auc) AS q1,
        |       2 * auc * auc / (1 + auc) AS q2 FROM a),
        |c AS (SELECT *, sqrt((auc * (1 - auc) + (np - 1) * (q1 - auc * auc)
        |       + (nn - 1) * (q2 - auc * auc)) / (np * nn)) AS se FROM b)
        |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        | round(auc, 6) AS auc, round(se, 6) AS se,
        | round(greatest(0.0, auc - 1.959963984540054 * se), 6) AS ci95_lo,
        | round(least(1.0, auc + 1.959963984540054 * se), 6) AS ci95_hi
        |FROM c""".stripMargin,

    "pipeline_label_noise" ->
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE) / 96 AS s,
        |        (doc_id % 3 = 0 OR n_chars % 5 = 0) AS y FROM documents),
        |th AS (SELECT avg(s) FILTER (y) AS tp,
        |        avg(s) FILTER (NOT y) AS tn FROM d),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(count(*) FILTER (y) AS BIGINT) AS n_pos,
        |        CAST(count(*) FILTER (NOT y AND s >= th.tp) AS BIGINT)
        |          AS n_flip_to_neg,
        |        CAST(count(*) FILTER (y AND s <= th.tn) AS BIGINT)
        |          AS n_flip_to_pos,
        |        any_value(th.tp) AS tp, any_value(th.tn) AS tn
        |       FROM d, th)
        |SELECT n, n_pos, n - n_pos AS n_neg,
        | round(tp, 6) AS thresh_pos, round(tn, 6) AS thresh_neg,
        | n_flip_to_neg, n_flip_to_pos,
        | round(CAST(n_flip_to_neg + n_flip_to_pos AS DOUBLE) / n, 6)
        |   AS est_noise_rate,
        | round(CAST(n_flip_to_neg AS DOUBLE) / (n - n_pos), 6)
        |   AS rate_neg_labeled,
        | round(CAST(n_flip_to_pos AS DOUBLE) / n_pos, 6)
        |   AS rate_pos_labeled
        |FROM a""".stripMargin,

    "q_oaxaca" ->
      """WITH d AS (SELECT CAST(n_chars % 89 AS DOUBLE) AS o,
        |        lang = 'en' AS a,
        |        CAST(n_chars % 97 AS DOUBLE)/96 AS x1 FROM documents),
        |ar AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x1) AS sx,
        |        sum(x1 * x1) AS sxx, sum(o) AS sy, sum(x1 * o) AS sxy
        |       FROM d WHERE NOT a),
        |c1 AS (SELECT *, sqrt(n) AS l00 FROM ar),
        |c2 AS (SELECT *, sx / l00 AS l10, sy / l00 AS z0 FROM c1),
        |c3 AS (SELECT *, sqrt(sxx - l10 * l10) AS l11 FROM c2),
        |c4 AS (SELECT *, (sxy - l10 * z0) / l11 AS z1 FROM c3),
        |c5 AS (SELECT *, z1 / l11 AS bx FROM c4),
        |bb AS (SELECT round(bx, 6) AS b1 FROM c5),
        |g AS (SELECT CAST(count(*) FILTER (a) AS BIGINT) AS n_a,
        |        CAST(count(*) FILTER (NOT a) AS BIGINT) AS n_b,
        |        avg(o) FILTER (a) AS ma, avg(o) FILTER (NOT a) AS mb,
        |        avg(x1) FILTER (a) AS xa, avg(x1) FILTER (NOT a) AS xb
        |       FROM d)
        |SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        | round(ma - mb, 6) AS gap,
        | round((xa - xb) * b1, 6) AS explained,
        | round((ma - mb) - (xa - xb) * b1, 6) AS unexplained
        |FROM g, bb""".stripMargin,

    "eval_mcc" ->
      """WITH d AS (SELECT (doc_id % 3 = 0 OR n_chars % 5 = 0) AS y,
        |        n_chars % 7 < 3 AS p FROM documents),
        |a AS (SELECT CAST(count(*) FILTER (y AND p) AS BIGINT) AS tp,
        |        CAST(count(*) FILTER (NOT y AND p) AS BIGINT) AS fp,
        |        CAST(count(*) FILTER (y AND NOT p) AS BIGINT) AS fn,
        |        CAST(count(*) FILTER (NOT y AND NOT p) AS BIGINT) AS tn
        |       FROM d)
        |SELECT tp + fp + fn + tn AS n, tp, fp, fn, tn,
        | round((CAST(tp AS DOUBLE) + tn) / (tp + fp + fn + tn), 6)
        |   AS accuracy,
        | round((CAST(tp AS DOUBLE) / (tp + fn)
        |   + CAST(tn AS DOUBLE) / (tn + fp)) / 2.0, 6) AS balanced_acc,
        | round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) /
        |   sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp)
        |     * (tn + fn)), 6) AS mcc,
        | round(CAST(tp AS DOUBLE) / (tp + fn)
        |   + CAST(tn AS DOUBLE) / (tn + fp) - 1.0, 6) AS youden_j
        |FROM a""".stripMargin,

    "sim_stream_drift" ->
      s"""WITH sg AS (SELECT ${rffSignRows(64, 64, 42L)} AS m),
        |e AS (SELECT vec_id % 3 AS bid, embedding FROM embeddings),
        |p AS (SELECT bid, list_transform(range(1, 65), j ->
        |    cos(1.0 * (list_sum(list_transform(range(1, len(embedding) + 1),
        |        i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |          * m[CAST(j AS INT)][CAST(i AS INT)])) / sqrt(64.0))
        |      + 2 * pi() / 64 * (j - 1)) * sqrt(2.0 / 64)) AS phi
        |   FROM e, sg),
        |x AS (SELECT bid, unnest(phi) AS v, unnest(range(0, 64)) AS pos
        |      FROM p),
        |rm AS (SELECT pos, avg(v) AS mr FROM x GROUP BY 1),
        |bm AS (SELECT bid, pos, avg(v) AS mb, CAST(count(*) AS BIGINT)
        |        AS nb FROM x GROUP BY 1, 2),
        |o AS (SELECT bid, max(nb) AS n,
        |       sum((mb - mr) * (mb - mr)) AS mmd2
        |      FROM bm JOIN rm USING (pos) GROUP BY 1)
        |SELECT CAST(bid AS BIGINT) AS batch_id, n, round(mmd2, 6) AS mmd2
        |FROM o ORDER BY batch_id""".stripMargin,

    "sim_mmd" ->
      s"""WITH sg AS (SELECT ${rffSignRows(64, 64, 42L)} AS m),
        |e AS (SELECT CASE WHEN label <= 4 THEN 1 ELSE 0 END AS a,
        |        embedding FROM embeddings),
        |p AS (SELECT a, list_transform(range(1, 65), j ->
        |    cos(1.0 * (list_sum(list_transform(range(1, len(embedding) + 1),
        |        i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |          * m[CAST(j AS INT)][CAST(i AS INT)])) / sqrt(64.0))
        |      + 2 * pi() / 64 * (j - 1)) * sqrt(2.0 / 64)) AS phi
        |   FROM e, sg),
        |x AS (SELECT a, unnest(phi) AS v, unnest(range(0, 64)) AS pos
        |      FROM p),
        |pp AS (SELECT pos, avg(CASE WHEN a = 1 THEN v END) AS ma,
        |        avg(CASE WHEN a = 0 THEN v END) AS mb FROM x GROUP BY 1),
        |c AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |       CAST(count(*) - sum(a) AS BIGINT) AS n_b FROM e)
        |SELECT n_a, n_b, 64 AS d_features,
        | CASE WHEN n_a > 0 AND n_b > 0
        |   THEN round(sum((ma - mb) * (ma - mb)), 6) END AS mmd2
        |FROM pp, c GROUP BY n_a, n_b""".stripMargin,

    "q_power_mde" ->
      """WITH d AS (SELECT doc_id % 2 = 0 AS t, n_chars % 7 < 3 AS s
        |           FROM documents),
        |a AS (SELECT CAST(count(*) FILTER (t) AS BIGINT) AS n_t,
        |        CAST(count(*) FILTER (NOT t) AS BIGINT) AS n_c,
        |        CAST(count(*) FILTER (t AND s) AS DOUBLE) AS xt,
        |        CAST(count(*) FILTER (NOT t AND s) AS DOUBLE) AS xc
        |       FROM d),
        |b AS (SELECT n_t, n_c, xt / n_t AS pt, xc / n_c AS pc FROM a),
        |c AS (SELECT *, sqrt(pc * (1 - pc) *
        |        (1.0 / n_t + 1.0 / n_c)) AS se0 FROM b),
        |e AS (SELECT *,
        |        abs(pt - pc) / se0 - 1.9599639845400545 AS x FROM c),
        |f AS (SELECT *, (exp(-0.5 * x * x) / 2.5066282746310002) *
        |   ((1 / (1 + 0.2316419 * abs(x))) * (0.319381530 +
        |    (1 / (1 + 0.2316419 * abs(x))) * (-0.356563782 +
        |    (1 / (1 + 0.2316419 * abs(x))) * (1.781477937 +
        |    (1 / (1 + 0.2316419 * abs(x))) * (-1.821255978 +
        |    (1 / (1 + 0.2316419 * abs(x))) * 1.330274429))))) AS pp
        |  FROM e)
        |SELECT n_t, n_c, round(pc, 6) AS rate_c, round(pt, 6) AS rate_t,
        | round(pt - pc, 6) AS lift,
        | round((1.9599639845400545 + 0.8416212335729143) * se0, 6)
        |   AS mde_80,
        | round(CASE WHEN x >= 0 THEN 1 - pp ELSE pp END, 6)
        |   AS power_observed
        |FROM f""".stripMargin,

    "q_eb_shrinkage" ->
      """WITH per AS (SELECT source AS grp, CAST(count(*) AS BIGINT) AS n,
        |        CAST(count(*) FILTER (n_chars % 5 = 0) AS BIGINT) AS x
        |       FROM documents GROUP BY 1),
        |pr AS (SELECT avg(CAST(x AS DOUBLE) / n) AS m,
        |        var_samp(CAST(x AS DOUBLE) / n) AS v FROM per),
        |ab AS (SELECT
        |        CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
        |             THEN round(m * (m * (1 - m) / v - 1), 6) END AS alpha,
        |        CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
        |             THEN round((1 - m) * (m * (1 - m) / v - 1), 6) END
        |          AS beta
        |       FROM pr)
        |SELECT grp, n, x AS successes,
        | round(CAST(x AS DOUBLE) / n, 6) AS raw_rate, alpha, beta,
        | round(CASE WHEN alpha IS NULL THEN CAST(x AS DOUBLE) / n
        |       ELSE (x + alpha) / (n + alpha + beta) END, 6) AS shrunk_rate
        |FROM per, ab ORDER BY grp""".stripMargin,

    "q_tost" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS v,
        |        lang = 'en' AS a FROM documents WHERE n_chars IS NOT NULL),
        |g AS (SELECT CAST(count(*) FILTER (a) AS BIGINT) AS n_a,
        |        CAST(count(*) FILTER (NOT a) AS BIGINT) AS n_b,
        |        avg(v) FILTER (a) AS ma, avg(v) FILTER (NOT a) AS mb,
        |        var_samp(v) FILTER (a) AS va,
        |        var_samp(v) FILTER (NOT a) AS vb
        |       FROM d),
        |c AS (SELECT *, ma - mb AS diff,
        |        sqrt(va / n_a + vb / n_b) AS se FROM g)
        |SELECT n_a, n_b, round(diff, 6) AS diff,
        | CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
        |      THEN round(se, 6) END AS se,
        | CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
        |      THEN round(diff - 1.6448536269514722 * se, 6) END AS ci90_lo,
        | CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
        |      THEN round(diff + 1.6448536269514722 * se, 6) END AS ci90_hi,
        | CAST(50.0 AS DOUBLE) AS delta,
        | CASE WHEN n_a >= 2 AND n_b >= 2 AND se > 0
        |      THEN (diff + 50.0) / se > 1.6448536269514722
        |       AND (50.0 - diff) / se > 1.6448536269514722 END
        |   AS equivalent_05
        |FROM c""".stripMargin,

    "dedup_capture_recapture" ->
      """WITH d AS (SELECT n_chars % 3 = 0 AND doc_id % 2 = 0 AS a,
        |        n_chars % 3 = 0 AND n_chars % 5 < 3 AS b FROM documents),
        |g AS (SELECT CAST(count(*) FILTER (a) AS BIGINT) AS n_a,
        |        CAST(count(*) FILTER (b) AS BIGINT) AS n_b,
        |        CAST(count(*) FILTER (a AND b) AS BIGINT) AS n_both,
        |        CAST(count(*) FILTER (a OR b) AS BIGINT) AS n_union
        |       FROM d),
        |c AS (SELECT *,
        |        (CAST(n_a AS DOUBLE) + 1) * (CAST(n_b AS DOUBLE) + 1)
        |          / (CAST(n_both AS DOUBLE) + 1) - 1 AS nhat,
        |        (CAST(n_a AS DOUBLE) + 1) * (CAST(n_b AS DOUBLE) + 1)
        |          * (CAST(n_a AS DOUBLE) - n_both)
        |          * (CAST(n_b AS DOUBLE) - n_both)
        |          / ((CAST(n_both AS DOUBLE) + 1)
        |             * (CAST(n_both AS DOUBLE) + 1)
        |             * (CAST(n_both AS DOUBLE) + 2)) AS vhat
        |       FROM g)
        |SELECT n_a, n_b, n_both, n_union,
        | CASE WHEN n_a > 0 AND n_b > 0 THEN round(nhat, 6) END AS n_hat,
        | CASE WHEN n_a > 0 AND n_b > 0 THEN round(sqrt(vhat), 6) END AS se,
        | CASE WHEN n_a > 0 AND n_b > 0 AND nhat > 0
        |      THEN round(n_union / nhat, 6) END AS coverage_union
        |FROM c""".stripMargin,

    "pipeline_budget_select" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars % 97 AS DOUBLE)/96 AS s,
        |        len(string_split_regex(trim(text), '\s+')) AS tok
        |       FROM documents),
        |c AS (SELECT doc_id, s, tok, sum(tok) OVER (ORDER BY s DESC, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d),
        |sel AS (SELECT * FROM c WHERE cum <= 3000)
        |SELECT CAST(count(*) AS BIGINT) AS n_selected,
        | CAST(max(cum) AS BIGINT) AS tokens_used,
        | round(min(s), 6) AS cutoff_score
        |FROM sel""".stripMargin,

    "eval_pass_at_k" ->
      s"""WITH d AS (SELECT doc_id % 40 AS t,
        |        CASE WHEN ${duckHex16("CAST(doc_id AS VARCHAR)")} % 100 < 30
        |             THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS correct
        |       FROM documents),
        |per AS (SELECT t, count(*) AS n, sum(correct) AS c FROM d GROUP BY 1),
        |ks AS (SELECT CAST(v.k AS INT) AS k FROM (VALUES (1), (5), (10)) v(k)),
        |p AS (SELECT ks.k,
        |        CASE WHEN per.c = 0 THEN CAST(0 AS DOUBLE)
        |             WHEN per.n - per.c < ks.k THEN CAST(1 AS DOUBLE)
        |             ELSE 1 - exp(list_sum(list_transform(
        |               generate_series(0, ks.k - 1),
        |               i -> ln((per.n - per.c - i) / (per.n - i)))))
        |        END AS pk
        |       FROM ks JOIN per ON per.n >= ks.k)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
        | round(avg(pk), 6) AS pass_at_k
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "eval_parity" ->
      s"""WITH d AS (SELECT source AS g,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN 1 ELSE 0 END AS y,
        |        CASE WHEN ${duckHex16("CAST(doc_id AS VARCHAR)")} % 100 < 45
        |             THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS p
        |       FROM documents),
        |g AS (SELECT g, avg(p) AS sel,
        |        avg(p) FILTER (WHERE y = 1) AS tpr,
        |        avg(p) FILTER (WHERE y = 0) AS fpr
        |       FROM d GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        | round(max(sel) - min(sel), 6) AS dp_gap,
        | round(max(tpr) - min(tpr), 6) AS tpr_gap,
        | round(max(fpr) - min(fpr), 6) AS fpr_gap
        |FROM g""".stripMargin,

    "pipeline_mix_schedule" ->
      """WITH src AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
        |tot AS (SELECT sum(c) AS n, CAST(count(*) AS DOUBLE) AS k FROM src),
        |wz AS (SELECT source, c / CAST(tot.n AS DOUBLE) AS ws,
        |        1 / tot.k AS we FROM src, tot),
        |grid AS (SELECT CAST(unnest(generate_series(0, 4)) AS INT) AS step),
        |w AS (SELECT wz.source, grid.step,
        |       ws + (grid.step / CAST(4 AS DOUBLE)) * (we - ws) AS wk
        |      FROM wz, grid),
        |nm AS (SELECT step, source,
        |        wk / sum(wk) OVER (PARTITION BY step) AS share FROM w),
        |r AS (SELECT step, source, share, 10000 * share AS raw,
        |       floor(10000 * share) AS fl,
        |       10000 * share - floor(10000 * share) AS frac FROM nm),
        |d AS (SELECT step, sum(fl) AS flsum FROM r GROUP BY 1),
        |rk AS (SELECT step, source, row_number() OVER (PARTITION BY step
        |        ORDER BY frac DESC, source) AS rnk FROM r)
        |SELECT r.step, r.source, round(r.share, 6) AS share,
        | CAST(r.fl + CASE WHEN rk.rnk <= 10000 - d.flsum
        |   THEN 1 ELSE 0 END AS BIGINT) AS tokens
        |FROM r JOIN rk ON r.step = rk.step AND r.source = rk.source
        |JOIN d ON r.step = d.step
        |ORDER BY r.step, r.source""".stripMargin,

    "eval_ols_robust" ->
      """WITH d AS (SELECT CAST(doc_id % 31 AS DOUBLE)/30 AS x,
        |        CAST(n_chars % 89 AS DOUBLE)/88 AS y FROM documents),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |       sum(x*x) AS sxx, sum(y) AS sy, sum(x*y) AS sxy FROM d),
        |w AS (SELECT (sy*sxx - sx*sxy) / (n*sxx - sx*sx) AS wb,
        |       (n*sxy - sx*sy) / (n*sxx - sx*sx) AS wx,
        |       n, sx, sxx FROM m),
        |e AS (SELECT w.wb, w.wx, w.n, w.sx, w.sxx,
        |       sum((y - wb - wx*x)*(y - wb - wx*x)) AS e0,
        |       sum((y - wb - wx*x)*(y - wb - wx*x)*x) AS e1,
        |       sum((y - wb - wx*x)*(y - wb - wx*x)*x*x) AS e2
        |      FROM d, w GROUP BY w.wb, w.wx, w.n, w.sx, w.sxx),
        |s AS (SELECT wb, wx,
        |       (sxx*sxx*e0 - 2*sxx*sx*e1 + sx*sx*e2)
        |         / ((n*sxx - sx*sx)*(n*sxx - sx*sx)) AS s00,
        |       (sx*sx*e0 - 2*n*sx*e1 + n*n*e2)
        |         / ((n*sxx - sx*sx)*(n*sxx - sx*sx)) AS s11 FROM e)
        |SELECT * FROM (
        | SELECT 'b' AS term, round(wb, 6) AS coef,
        |  round(sqrt(s00), 6) AS se_hc0, round(wb/sqrt(s00), 6) AS t_stat
        | FROM s
        | UNION ALL
        | SELECT 'x1', round(wx, 6), round(sqrt(s11), 6),
        |  round(wx/sqrt(s11), 6) FROM s)
        |ORDER BY term""".stripMargin,

    "eval_ridge" ->
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE)/96 AS x1,
        |        CAST(doc_id % 31 AS DOUBLE)/30 AS x2,
        |        CAST(n_chars % 89 AS DOUBLE)/88 AS y FROM documents),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS m00, sum(x1) AS m01,
        |       sum(x2) AS m02, sum(x1*x1) AS m11, sum(x1*x2) AS m12,
        |       sum(x2*x2) AS m22, sum(y) AS v0, sum(x1*y) AS v1,
        |       sum(x2*y) AS v2, sum(y*y) AS yy,
        |       CAST(count(*) AS BIGINT) AS n FROM d),
        |a AS (SELECT m00 AS a11, m01 AS a12, m02 AS a13,
        |       m01 AS a21, m11 + CAST(1 AS DOUBLE) AS a22, m12 AS a23,
        |       m02 AS a31, m12 AS a32, m22 + CAST(1 AS DOUBLE) AS a33,
        |       * FROM m),
        |dt AS (SELECT a11*(a22*a33 - a23*a32) - a12*(a21*a33 - a23*a31)
        |        + a13*(a21*a32 - a22*a31) AS det, * FROM a),
        |w AS (SELECT
        |  (v0*(a22*a33 - a23*a32) - a12*(v1*a33 - a23*v2)
        |    + a13*(v1*a32 - a22*v2)) / det AS w0,
        |  (a11*(v1*a33 - a23*v2) - v0*(a21*a33 - a23*a31)
        |    + a13*(a21*v2 - v1*a31)) / det AS w1,
        |  (a11*(a22*v2 - v1*a32) - a12*(a21*v2 - v1*a31)
        |    + v0*(a21*a32 - a22*a31)) / det AS w2,
        |  * FROM dt),
        |f AS (SELECT yy - 2*(w0*v0 + w1*v1 + w2*v2)
        |        + (w0*w0*m00 + w1*w1*m11 + w2*w2*m22 + 2*w0*w1*m01
        |          + 2*w0*w2*m02 + 2*w1*w2*m12) AS sse,
        |       yy - v0*v0 / m00 AS sst, * FROM w)
        |SELECT round(w0, 6) AS w_b, round(w1, 6) AS w_1,
        | round(w2, 6) AS w_2,
        | CASE WHEN sst > 0 THEN round(1 - sse/sst, 6) END AS r2, n
        |FROM f""".stripMargin,

    "pipeline_target_encode" ->
      s"""WITH d AS (SELECT source,
        |        ${duckHex16("CAST(doc_id AS VARCHAR)")} % 5 AS fold,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
        |       FROM documents),
        |p AS (SELECT avg(y) AS prior FROM d),
        |cf AS (SELECT source, fold, sum(y) AS sf, count(*) AS nf
        |       FROM d GROUP BY 1, 2),
        |ct AS (SELECT source, sum(sf) AS sc, sum(nf) AS nc
        |       FROM cf GROUP BY 1)
        |SELECT cf.source, CAST(cf.fold AS INT) AS fold,
        | CAST(cf.nf AS BIGINT) AS n,
        | round(((ct.sc - cf.sf) + CAST(20.0 AS DOUBLE) * p.prior)
        |   / ((ct.nc - cf.nf) + CAST(20.0 AS DOUBLE)), 6) AS te
        |FROM cf JOIN ct ON cf.source = ct.source, p
        |ORDER BY cf.source, fold""".stripMargin,
    // Mirrors TextFunctions.langId exactly: whitespace-token stopword hits
    // per space-delimited language, character hits for zh, greatest-wins
    // with alphabetical-first tie-break and "und" when all scores are 0.
    "text_langid" ->
      """WITH s AS (
        | SELECT lang,
        |  string_split_regex(lower(trim(text)), '\s+') AS toks,
        |  length(text) - length(regexp_replace(text, '[的是了在我有和就不人]', '', 'g')) AS zh_sc
        | FROM documents),
        |sc AS (
        | SELECT lang, zh_sc,
        |  len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','sich','auf'], t))) AS de_sc,
        |  len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','it','was','for'], t))) AS en_sc,
        |  len(list_filter(toks, t -> list_contains(['el','la','que','de','y','en','los','se','del','las'], t))) AS es_sc,
        |  len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','que','pour'], t))) AS fr_sc
        | FROM s),
        |p AS (
        | SELECT lang, CASE
        |   WHEN de_sc = best AND best > 0 THEN 'de'
        |   WHEN en_sc = best AND best > 0 THEN 'en'
        |   WHEN es_sc = best AND best > 0 THEN 'es'
        |   WHEN fr_sc = best AND best > 0 THEN 'fr'
        |   WHEN zh_sc = best AND best > 0 THEN 'zh'
        |   ELSE 'und' END AS predicted
        | FROM (SELECT *, greatest(de_sc, en_sc, es_sc, fr_sc, zh_sc) AS best FROM sc))
        |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
        | CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS re_tokens,
        | round(avg(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)), 6) AS avg_alpha,
        | round(avg(n_chars), 6) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // unsaturated sketches are complete: the KMV estimate must equal
    // the exact distinct-text Jaccard, and k_used is the union size
    "pipeline_corpus_overlap" ->
      """WITH a AS (SELECT DISTINCT text FROM documents
        |  WHERE text IS NOT NULL AND doc_id < 400),
        |b AS (SELECT DISTINCT text FROM documents
        |  WHERE text IS NOT NULL AND doc_id >= 200 AND doc_id < 500),
        |u AS (SELECT text FROM a UNION SELECT text FROM b),
        |i AS (SELECT text FROM a INTERSECT SELECT text FROM b)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
        | (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
        | round((SELECT count(*) FROM i) * 1.0 / (SELECT count(*) FROM u), 6) AS jaccard,
        | (SELECT CAST(count(*) AS BIGINT) FROM u) AS k_used""".stripMargin,

    // exact GROUP BY truth: collision-free at this sketch width, the
    // CMS estimates must equal these counts, ranking and all
    "text_heavy_hitters" ->
      """WITH toks AS (
        | SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        | FROM documents WHERE text IS NOT NULL)
        |SELECT w AS token, CAST(count(*) AS BIGINT) AS cnt
        |FROM toks WHERE w != ''
        |GROUP BY w ORDER BY cnt DESC, token LIMIT 8""".stripMargin,

    // corpus anchors are data-derived; the bound/round-trip/monotonicity
    // verdicts are the engine's own booleans, which must all read true
    "text_bpe" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
        | CAST(sum(strlen(regexp_replace(text, '\s', '', 'g'))) AS BIGINT) AS nonspace_bytes,
        | true AS bounds_ok, true AS roundtrip_ok, true AS monotone_ok,
        | true AS learned_ok
        |FROM documents WHERE text IS NOT NULL AND trim(text) != ''""".stripMargin,

    "text_bpe_incr" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |   AS ws_tokens,
        | CAST(sum(strlen(regexp_replace(text, '\s', '', 'g'))) AS BIGINT)
        |   AS nonspace_bytes,
        | true AS roundtrip_identical, true AS bounds_ok, true AS learned_ok
        |FROM documents
        |WHERE lang <> 'en' AND text IS NOT NULL AND trim(text) != ''""".stripMargin,

    // Split sizes recomputed from the same md5-bucket rule as
    // pipeline_split (both the real and the reversed copy of a document
    // key on the original doc_id → factor 2); the accuracy/separation
    // verdicts are the engine's own booleans.
    "pipeline_quality_clf" ->
      s"""WITH b AS (SELECT
        |  ${duckHex16("CAST(doc_id AS VARCHAR)")} % 1000 AS bkt
        | FROM documents)
        |SELECT CAST(2 * (SELECT count(*) FROM b WHERE bkt >= 800) AS BIGINT) AS n_test,
        | true AS acc_ok, true AS sep_ok,
        | CAST(2 * (SELECT count(*) FROM b WHERE bkt < 800) AS BIGINT) AS n_train""".stripMargin,

    "text_quality" ->
      """WITH m AS (SELECT source,
        |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) AS alpha,
        |  length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text) AS digit,
        |  list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) * 1.0
        |    / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS avgtok
        | FROM documents)
        |SELECT source,
        | round(avg(round(0.5 * alpha + 0.2 * (1.0 - digit) +
        |   0.3 * (CASE WHEN avgtok BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END), 6)), 6) AS avg_quality,
        | round(avg(avgtok), 6) AS avg_tok_len,
        | round(avg(digit), 6) AS avg_digit
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // Truncation mirrored with list slicing; token counts after the cut
    // are least(n, 64) because single-space joining re-splits cleanly.
    "text_truncate" ->
      """WITH d AS (SELECT source, text,
        |  string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |c AS (SELECT source, text, toks,
        |  array_to_string(toks[1:64], ' ') AS cut FROM d)
        |SELECT source,
        | CAST(sum(len(toks)) AS BIGINT) AS toks_before,
        | CAST(sum(least(len(toks), 64)) AS BIGINT) AS toks_after,
        | CAST(sum(length(cut)) AS BIGINT) AS chars_after,
        | CAST(sum(CASE WHEN cut != text THEN 1 ELSE 0 END) AS BIGINT) AS n_cut
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // Same tf · ln(N/df) with the same 6-dp-rounded score and term
    // tie-break; df counted over distinct (doc, term) pairs.
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |  round(tf.tf * ln((SELECT n_docs FROM n) / df.df), 6) AS tfidf
        | FROM tf JOIN df USING (term)),
        |ranked AS (SELECT doc_id, term, tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS INT) AS rank
        | FROM scored)
        |SELECT doc_id, rank, term, tfidf FROM ranked
        |WHERE rank <= 3 AND doc_id < 20 ORDER BY doc_id, rank""".stripMargin,

    // Mirrors TextFunctions.repetitionStats term for term: width-8 token
    // lines (trailing partial line included), duplicate-entry fractions,
    // and the modal-bigram share of bigram positions.
    "text_repetition" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text ELSE text END AS text
        | FROM documents WHERE doc_id < 30),
        |tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM d),
        |ln AS (SELECT doc_id, toks,
        |  list_transform(range(0, greatest(CAST(ceil(len(toks) / 8.0) AS INT), 1)),
        |    i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ')) AS lines
        | FROM tk),
        |base AS (SELECT doc_id,
        |  (len(lines) - len(list_distinct(lines))) * 1.0 / len(lines) AS dup_line_frac,
        |  CASE WHEN coalesce(list_sum(list_transform(lines, x -> length(x))), 0) <= 0 THEN 0.0
        |   ELSE list_sum(list_transform(lines, x ->
        |       CASE WHEN len(list_filter(lines, y -> y = x)) > 1 THEN length(x) ELSE 0 END)) * 1.0
        |     / list_sum(list_transform(lines, x -> length(x))) END AS dup_line_char_frac,
        |  len(toks) - 1 AS positions
        | FROM ln),
        |g AS (SELECT doc_id, unnest(list_transform(
        |   range(0, CASE WHEN len(toks) < 2 THEN 0 ELSE len(toks) - 1 END),
        |   i -> array_to_string(toks[(i+1):(i+2)], ' '))) AS gram
        | FROM tk),
        |top AS (SELECT doc_id, max(c) AS top_c FROM (
        |  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2) GROUP BY doc_id)
        |SELECT b.doc_id,
        | round(b.dup_line_frac, 6) AS dup_line_frac,
        | round(b.dup_line_char_frac, 6) AS dup_line_char_frac,
        | round(coalesce(top_c * 1.0 / greatest(b.positions, 1), 0.0), 6) AS top_ngram_frac
        |FROM base b LEFT JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Same RE2-compatible patterns, same left-to-right redaction order
    // (email first so its digit clusters can't half-match phone/ip).
    "text_pii" ->
      """WITH aug AS (
        | SELECT doc_id, source,
        |  text ||
        |  (CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ' call +1 555 867 5309' ELSE '' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN ' from 192.168.1.7' ELSE '' END) AS text
        | FROM documents)
        |SELECT source,
        | CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_emails,
        | CAST(sum(len(regexp_extract_all(text, '\+\d{1,2} \d{3} \d{3} \d{4}'))) AS BIGINT) AS n_phones,
        | CAST(sum(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))) AS BIGINT) AS n_ipv4s,
        | CAST(sum(length(text) - length(
        |   regexp_replace(regexp_replace(regexp_replace(text,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\+\d{1,2} \d{3} \d{3} \d{4}', '<PHONE>', 'g'),
        |     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))) AS BIGINT) AS redacted_delta
        |FROM aug GROUP BY source ORDER BY source""".stripMargin,

    // Same regexes, same composition order: tags → space, control chars
    // dropped, whitespace runs collapsed, ends trimmed.
    "text_clean" ->
      """WITH aug AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 2 = 0
        |   THEN '<p class="x"> ' || text || ' </p>' || chr(7) || '<br/>'
        |   ELSE text END AS text
        | FROM documents),
        |c AS (SELECT source, text,
        |  trim(regexp_replace(regexp_replace(regexp_replace(text,
        |    '<[^>]*>', ' ', 'g'),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '\s+', ' ', 'g')) AS clean
        | FROM aug)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS raw_chars,
        | CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
        | CAST(sum(CASE WHEN clean != text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // Mirrors TextFunctions.unigramLmScores: top-500 vocab by (count
    // desc, token asc), OOV floored at count 1, natural log, corpus-total
    // denominator.
    "text_lm" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents),
        |counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
        |vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 500),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM counts),
        |scored AS (SELECT t.doc_id,
        |   avg(ln(coalesce(v.c, 1))) - ln((SELECT n_total FROM tot)) AS lm_logprob,
        |   CAST(sum(CASE WHEN v.c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |   CAST(count(*) AS BIGINT) AS n_toks
        |  FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id)
        |SELECT d.source, round(avg(s.lm_logprob), 6) AS avg_lm,
        | CAST(sum(s.n_oov) AS BIGINT) AS n_oov,
        | CAST(sum(s.n_toks) AS BIGINT) AS n_toks
        |FROM scored s JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // Same plant, same five word-level rules: token count bounds, mean
    // word length in [3,10], '#'/ellipsis symbol ratio < 0.1, >= 80%
    // alphabetic words, >= 2 stopword hits.
    "text_gopher" ->
      """WITH d AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 25 = 0
        |   THEN array_to_string(list_transform(range(0, 60), i -> '###'), ' ')
        |   ELSE text END AS text
        | FROM documents),
        |m AS (SELECT source,
        |  len(string_split_regex(trim(text), '\s+')) AS n,
        |  list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) * 1.0
        |    / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mean_len,
        |  len(regexp_extract_all(text, '#|\.\.\.')) AS symbols,
        |  len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_words,
        |  len(list_filter(string_split_regex(trim(text), '\s+'),
        |    t -> list_contains(['the','be','to','of','and','that','have','with'], lower(t)))) AS stop_hits
        | FROM d),
        |f AS (SELECT source,
        |  (n >= 20 AND n <= 100000) AS words_ok,
        |  (mean_len >= 3.0 AND mean_len <= 10.0) AS mean_len_ok,
        |  (symbols * 1.0 < n * 0.1) AS symbol_ok,
        |  (alpha_words * 1.0 >= n * 0.8) AS alpha_ok,
        |  (stop_hits >= 2) AS stopword_ok
        | FROM m)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN words_ok AND mean_len_ok AND symbol_ok AND alpha_ok AND stopword_ok
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        | CAST(sum(CASE WHEN NOT words_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_words,
        | CAST(sum(CASE WHEN NOT mean_len_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_len,
        | CAST(sum(CASE WHEN NOT symbol_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_symbol,
        | CAST(sum(CASE WHEN NOT alpha_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_alpha,
        | CAST(sum(CASE WHEN NOT stopword_ok THEN 1 ELSE 0 END) AS BIGINT) AS f_stop
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // Same per-doc LM construction as text_lm, scores rounded to 6dp
    // BEFORE the tertile thresholds (quantile_cont is the same R-7
    // interpolation as Spark's percentile over identical inputs).
    "pipeline_ppl_buckets" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok FROM documents),
        |counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
        |vocab AS (SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 500),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM counts),
        |scored AS (SELECT t.doc_id,
        |   round(avg(ln(coalesce(v.c, 1))) - ln((SELECT n_total FROM tot)), 6) AS lm_r,
        |   CAST(count(*) AS BIGINT) AS n_toks
        |  FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id),
        |thr AS (SELECT quantile_cont(lm_r, 1.0/3.0) AS t1,
        |        quantile_cont(lm_r, 2.0/3.0) AS t2 FROM scored)
        |SELECT CASE WHEN lm_r >= t2 THEN 'head'
        |            WHEN lm_r >= t1 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | round(avg(lm_r), 6) AS avg_lm,
        | CAST(sum(n_toks) AS BIGINT) AS n_toks
        |FROM scored, thr GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_exact" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS total,
        | (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) FROM documents) AS n_distinct,
        | (SELECT CAST(count(*) AS BIGINT) FROM
        |   (SELECT md5(text) h FROM documents GROUP BY 1 HAVING count(*) > 1)) AS n_dup_groups""".stripMargin,

    "dedup_jaccard" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 5, 0) + 1),
        |    i -> substr(text, i + 1, 5))) AS s
        | FROM documents WHERE doc_id < 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(len(list_intersect(a.s, b.s)) * 1.0 /
        |   (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        | AND 100 * least(len(a.s), len(b.s)) >= 51 * greatest(len(a.s), len(b.s))
        |WHERE 100 * len(list_intersect(a.s, b.s)) >=
        |  51 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        |ORDER BY 1, 2""".stripMargin,

    "dedup_normalized" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 5000000, upper(text) || '  !!! '
        |   FROM documents WHERE doc_id % 9 = 0),
        |nz AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |        lower(text), '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS t
        |       FROM corpus),
        |g AS (SELECT t, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS keep_id
        |      FROM nz GROUP BY t HAVING count(*) > 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(sum(n) AS BIGINT) AS n_members,
        | CAST(sum(keep_id) AS BIGINT) AS sum_keep_id,
        | true AS all_multi
        |FROM g""".stripMargin,

    "text_heavy_per_lang" ->
      """WITH w AS (SELECT lang AS g, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |c AS (SELECT g, w, CAST(count(*) AS BIGINT) AS n
        |      FROM w WHERE w <> '' GROUP BY 1, 2),
        |r AS (SELECT g, w, n, row_number() OVER
        |       (PARTITION BY g ORDER BY n DESC, w) AS rk FROM c)
        |SELECT g AS "group", w AS key, n
        |FROM r WHERE rk <= 5 ORDER BY "group", key""".stripMargin,

    // identical strings rebuilt from codepoints; DuckDB's own
    // nfc_normalize / strip_accents are the independent implementation
    "text_normalize" ->
      """WITH p(id, s) AS (VALUES
        |  (1, 'Cafe' || chr(769)), (2, 'Caf' || chr(233)),
        |  (3, 'A' || chr(778) || 'ngstro' || chr(776) || 'm'),
        |  (4, 'MIXED Case'))
        |SELECT CAST(id AS BIGINT) AS id,
        | CAST(length(s) AS INT) AS raw_len,
        | nfc_normalize(s) AS nfc,
        | CAST(length(nfc_normalize(s)) AS INT) AS nfc_len,
        | lower(strip_accents(nfc_normalize(s))) AS folded
        |FROM p ORDER BY id""".stripMargin,

    "text_code_detect" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 15
        | UNION ALL SELECT * FROM (VALUES
        |  (9000001, 'def main(args):' || chr(10) || '  x = compute(args)'
        |    || chr(10) || '  return x' || chr(10)),
        |  (9000002, 'public static void main(String[] args) { int x = 1; x += 2; System.out.println(x); }'),
        |  (9000003, 'The quiet afternoon passed without incident, and nobody returned before dusk.')
        | ) v(doc_id, text)),
        |x AS (SELECT doc_id, greatest(length(text), 1) * 1.0 AS n,
        |   length(text) - length(replace(text, ';', '')) AS nsemi,
        |   length(text) - length(regexp_replace(text, '[{}]', '', 'g')) AS nbrace,
        |   list_filter(string_split(text, chr(10)), l -> length(l) > 0) AS lines,
        |   len(regexp_extract_all(text,
        |     '\b(def|class|void|return|import|function|val|var|public|static)\b'))
        |     AS kw FROM base),
        |y AS (SELECT doc_id, nsemi / n AS sd, nbrace / n AS bd,
        |   CASE WHEN len(lines) > 0 THEN
        |     len(list_filter(lines, l -> regexp_matches(l,
        |       '^(  |' || chr(9) || ')'))) * 1.0 / len(lines)
        |   ELSE 0.0 END AS ifrac, kw FROM x)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | round(sd, 6) AS semi_density, round(bd, 6) AS brace_density,
        | round(ifrac, 6) AS indent_fraction, CAST(kw AS INT) AS kw_count,
        | (sd + bd > 0.02 OR (ifrac > 0.3 AND kw > 0)) AS is_code
        |FROM y ORDER BY doc_id""".stripMargin,

    "text_vocab_richness" ->
      """WITH toks AS (SELECT source, unnest(string_split_regex(
        |    trim(lower(text)), '\s+')) AS term FROM documents),
        |tc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
        |       FROM toks GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_types,
        | CAST(count(*) FILTER (n = 1) AS BIGINT) AS n_hapax,
        | round(count(*) * 1.0 / sum(n), 6) AS ttr,
        | round(count(*) FILTER (n = 1) * 1.0 / count(*), 6) AS hapax_ratio
        |FROM tc GROUP BY source ORDER BY source""".stripMargin,

    "text_readability" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 20
        |  UNION ALL SELECT * FROM (VALUES
        |    (9000001, 'The cat sat on the mat.'),
        |    (9000002, 'Considerable organizational complexity accompanies sophisticated internationalization infrastructure.'),
        |    (9000003, 'Short. Sharp. Clear.')) v(doc_id, text)),
        |x AS (SELECT doc_id,
        |   len(list_filter(list_transform(
        |     string_split_regex(text, '[.!?]+\s+'), s -> trim(s)),
        |     s -> length(s) > 0)) AS ns,
        |   list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |     w -> length(w) > 0) AS ws FROM base),
        |y AS (SELECT doc_id, ns, len(ws) AS nw,
        |   coalesce(list_sum(list_transform(ws,
        |     w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 0)
        |     AS nsyl FROM x)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(ns AS INT) AS n_sentences, CAST(nw AS INT) AS n_words,
        | CAST(nsyl AS INT) AS n_syllables,
        | CASE WHEN nw > 0 THEN round(0.39 * nw / greatest(ns, 1)
        |   + 11.8 * nsyl / nw - 15.59, 4) END AS fk_grade
        |FROM y ORDER BY doc_id""".stripMargin,

    "text_sentences" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL SELECT * FROM (VALUES
        |    (9000001, 'One two. Three four five! Six?'),
        |    (9000002, 'No terminal punctuation here'),
        |    (9000003, 'Trailing spaces after stop.   Next one.'),
        |    (9000004, 'Multi!!! Bang?? Ok.')) v(doc_id, text)),
        |s AS (SELECT doc_id, list_filter(list_transform(
        |    string_split_regex(text, '[.!?]+\s+'), x -> trim(x)),
        |    x -> length(x) > 0) AS sents FROM base),
        |t AS (SELECT doc_id, sents, list_transform(sents,
        |    x -> len(string_split_regex(trim(x), '\s+'))) AS toks FROM s)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(len(sents) AS INT) AS n_sentences,
        | round(list_sum(toks) * 1.0 / greatest(len(sents), 1), 6)
        |   AS avg_sentence_tokens,
        | CAST(coalesce(list_max(toks), 0) AS INT) AS max_sentence_tokens
        |FROM t ORDER BY doc_id""".stripMargin,

    // same seven-line construction, same line and doc rules
    "text_c4_filter" ->
      """WITH d AS (SELECT doc_id, concat_ws(chr(10),
        |   substr(text, 1, 80) || '.',
        |   'Enable JavaScript to view this site.',
        |   'Short line.',
        |   substr(text, 81, 80) || '!',
        |   substr(text, 161, 40),
        |   CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.'
        |        ELSE 'A perfectly ordinary closing sentence here.' END,
        |   CASE WHEN doc_id % 11 = 0 THEN 'function f() { return 1; }'
        |        ELSE 'Nothing to see in this line honestly.' END) AS text
        |  FROM documents WHERE doc_id < 40),
        |f AS (SELECT doc_id, text,
        |  string_split(text, chr(10)) AS ls,
        |  list_filter(string_split(text, chr(10)), x ->
        |    length(trim(x)) > 0
        |    AND regexp_matches(trim(x), '[.!?"'']$')
        |    AND len(string_split_regex(trim(x), '\s+')) >= 5
        |    AND NOT contains(lower(trim(x)), 'javascript')
        |    AND NOT contains(lower(trim(x)), 'cookie policy')
        |    AND NOT contains(lower(trim(x)), 'privacy policy')
        |    AND NOT contains(lower(trim(x)), 'terms of use')
        |    AND NOT contains(lower(trim(x)), 'all rights reserved')) AS ks,
        |  contains(lower(text), 'lorem ipsum') AS lor,
        |  contains(text, '{') AS brace FROM d),
        |g AS (SELECT doc_id, CAST(len(ls) AS INT) AS n_lines,
        |  CAST(len(ks) AS INT) AS n_kept,
        |  CASE WHEN lor THEN 'lorem_ipsum' WHEN brace THEN 'curly_brace'
        |       WHEN len(ks) < 3 THEN 'too_few_lines' END AS drop_reason,
        |  ks FROM f)
        |SELECT doc_id, n_lines, n_kept, drop_reason IS NULL AS keep,
        | drop_reason,
        | CASE WHEN drop_reason IS NULL
        |      THEN array_to_string(ks, chr(10)) END AS clean_text
        |FROM g ORDER BY doc_id""".stripMargin,

    // same candidate regexes, same digit-for-digit Luhn arithmetic
    "text_cc_luhn" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL SELECT * FROM (VALUES
        |   (9000001, 'Pay with 4111111111111111 today'),
        |   (9000002, 'Spaced 4111 1111 1111 1111 and dashed 5500-0000-0000-0004'),
        |   (9000003, 'Not a card: 1234567890123456 nor 12345'),
        |   (9000004, 'Amex 378282246310005 inline')) v(doc_id, text)),
        |c AS (SELECT doc_id, list_concat(
        |   regexp_extract_all(text, '\b\d{13,19}\b'),
        |   list_transform(
        |     regexp_extract_all(text, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'),
        |     s -> regexp_replace(s, '[- ]', '', 'g'))) AS cands FROM base),
        |v AS (SELECT doc_id, cands, list_filter(cands, d ->
        |   length(d) BETWEEN 13 AND 19 AND
        |   list_sum(list_transform(range(1, length(d) + 1), i ->
        |     CASE WHEN i % 2 = 0 THEN
        |       CASE WHEN CAST(substr(reverse(d), CAST(i AS INT), 1) AS INT) * 2 > 9
        |            THEN CAST(substr(reverse(d), CAST(i AS INT), 1) AS INT) * 2 - 9
        |            ELSE CAST(substr(reverse(d), CAST(i AS INT), 1) AS INT) * 2 END
        |     ELSE CAST(substr(reverse(d), CAST(i AS INT), 1) AS INT) END)) % 10 = 0)
        |   AS ok FROM c)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(len(cands) AS INT) AS n_candidates,
        | CAST(len(ok) AS INT) AS n_luhn_valid,
        | len(ok) > 0 AS has_valid_cc
        |FROM v ORDER BY doc_id""".stripMargin,

    // same artifact patterns, same occurrence counting
    "text_mojibake" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL SELECT * FROM (VALUES
        |   (9000001, 'cafÃ© arrives twice: cafÃ©'),
        |   (9000002, 'itâ€™s a smart quote plus stray Â sign'),
        |   (9000003, 'hard loss: ' || chr(65533) || chr(65533) ||
        |     ' and a bell ' || chr(7) || ' char'),
        |   (9000004, 'perfectly clean ascii text')) v(doc_id, text)),
        |m AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'Ã')) +
        |       len(regexp_extract_all(text, 'â€')) +
        |       len(regexp_extract_all(text, 'Â')) AS INT) AS n_artifacts,
        |  CAST(len(regexp_extract_all(text, chr(65533))) AS INT)
        |    AS n_replacement,
        |  CAST(len(regexp_extract_all(text,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS INT) AS n_control
        | FROM base)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_artifacts,
        | n_replacement, n_control,
        | n_artifacts > 0 OR n_replacement > 0 OR n_control > 0 AS suspect
        |FROM m ORDER BY doc_id""".stripMargin,

    // same code-point ranges, same first-listed tie-break
    "text_scripts" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 30
        |  UNION ALL SELECT * FROM (VALUES
        |   (9000001, 'Привет мир от Spark'),
        |   (9000002, '機械学習モデルのデータ'),
        |   (9000003, '안녕하세요 세계 hello'),
        |   (9000004, 'مرحبا بالعالم')) v(doc_id, text)),
        |m AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS INT) AS n_latin,
        |  CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS INT)
        |    AS n_cyrillic,
        |  CAST(len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS INT)
        |    AS n_arabic,
        |  CAST(len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS INT)
        |    AS n_cjk,
        |  CAST(len(regexp_extract_all(text, '[\x{3040}-\x{30FF}]')) AS INT)
        |    AS n_kana,
        |  CAST(len(regexp_extract_all(text, '[\x{AC00}-\x{D7A3}]')) AS INT)
        |    AS n_hangul
        | FROM base),
        |g AS (SELECT *, greatest(n_latin, n_cyrillic, n_arabic, n_cjk,
        |  n_kana, n_hangul) AS top FROM m)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_latin, n_cyrillic,
        | n_arabic, n_cjk, n_kana, n_hangul,
        | CASE WHEN top = 0 THEN 'none'
        |      WHEN n_latin = top THEN 'latin'
        |      WHEN n_cyrillic = top THEN 'cyrillic'
        |      WHEN n_arabic = top THEN 'arabic'
        |      WHEN n_cjk = top THEN 'cjk'
        |      WHEN n_kana = top THEN 'kana'
        |      ELSE 'hangul' END AS dominant_script
        |FROM g ORDER BY doc_id""".stripMargin,

    // same first-appearance cumulative construction, same OLS algebra
    // (string trigrams stand in for the engine's xxhash64 gram keys)
    "text_heaps" ->
      """WITH ws AS (SELECT doc_id % 8 AS s,
        |  string_split_regex(trim(lower(text)), '\s+') AS w
        | FROM documents),
        |toks AS (SELECT s, unnest(CASE WHEN len(w) >= 3 THEN
        |   list_transform(range(1, len(w) - 1),
        |     i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
        |   ELSE [] END) AS t FROM ws),
        |ps AS (SELECT s, CAST(count(*) AS BIGINT) AS nt
        | FROM toks GROUP BY 1),
        |fs AS (SELECT s, CAST(count(*) AS BIGINT) AS nv FROM (
        |  SELECT t, min(s) AS s FROM toks GROUP BY 1) GROUP BY 1),
        |cum AS (SELECT ps.s, sum(nt) OVER (ORDER BY ps.s) AS n,
        |  sum(coalesce(nv, 0)) OVER (ORDER BY ps.s) AS v
        | FROM ps LEFT JOIN fs ON ps.s = fs.s),
        |l AS (SELECT ln(CAST(n AS DOUBLE)) AS x,
        |  ln(CAST(v AS DOUBLE)) AS y FROM cum),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_shards,
        |  covar_pop(x, y) AS cxy, var_pop(x) AS vx, var_pop(y) AS vy,
        |  avg(x) AS mx, avg(y) AS my FROM l)
        |SELECT n_shards,
        | CASE WHEN vx * vy = 0 THEN NULL
        |      ELSE round(cxy / vx, 6) END AS beta,
        | CASE WHEN vx * vy = 0 THEN NULL
        |      ELSE round(exp(my - cxy / vx * mx), 6) END AS k,
        | CASE WHEN vx * vy = 0 THEN NULL
        |      ELSE round(cxy * cxy / (vx * vy), 6) END AS r2
        |FROM g""".stripMargin,

    // same grams as STRINGS (engine shuffles xxhash64 keys; distinct
    // counts agree absent collisions)
    "text_distinct_n" ->
      """WITH ws AS (SELECT source, string_split_regex(trim(text), '\s+')
        |   AS w FROM documents),
        |g AS (
        | SELECT source, 1 AS n, unnest(w) AS gt FROM ws
        | UNION ALL
        | SELECT source, 2, unnest(CASE WHEN len(w) >= 2 THEN
        |   list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
        |   ELSE [] END) FROM ws
        | UNION ALL
        | SELECT source, 3, unnest(CASE WHEN len(w) >= 3 THEN
        |   list_transform(range(1, len(w) - 1),
        |     i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
        |   ELSE [] END) FROM ws)
        |SELECT source, n, CAST(count(*) AS BIGINT) AS n_grams,
        | CAST(count(DISTINCT gt) AS BIGINT) AS n_distinct,
        | round(count(DISTINCT gt) / CAST(count(*) AS DOUBLE), 6)
        |   AS distinct_ratio
        |FROM g GROUP BY 1, 2 ORDER BY source, n""".stripMargin,

    // verdict counts predicted from the planting rule (the mm_* style
    // arithmetic-recompute oracle): the forced second-turn 'user' makes
    // exactly the %13 conversations with >= 2 turns non-alternating
    "pipeline_sft_audit" ->
      """WITH w AS (SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x != '')) AS n
        | FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_convs,
        | CAST(count(*) FILTER (n = 0) AS BIGINT) AS n_empty,
        | CAST(0 AS BIGINT) AS n_not_user_start,
        | CAST(count(*) FILTER (doc_id % 13 = 0 AND n >= 2) AS BIGINT)
        |   AS n_bad_alternation,
        | CAST(0 AS BIGINT) AS n_blank,
        | CAST(count(*) FILTER (n > 40) AS BIGINT) AS n_over_budget,
        | CAST(sum(n) AS BIGINT) AS total_turns
        |FROM w""".stripMargin,

    "pipeline_time_split" ->
      """WITH s AS (SELECT CASE
        |    WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN 'train'
        |    WHEN ts >= TIMESTAMP '2024-01-17 00:00:00' THEN 'test'
        |    ELSE 'embargo' END AS split, ts FROM events),
        |g AS (SELECT split, CAST(count(*) AS BIGINT) AS n,
        |   CAST(floor(epoch(min(ts))) AS BIGINT) AS min_ts,
        |   CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts
        |  FROM s GROUP BY split)
        |SELECT split, n, min_ts, max_ts,
        | CASE WHEN split = 'train'
        |   THEN max_ts < epoch(TIMESTAMP '2024-01-15 00:00:00')
        |  WHEN split = 'test'
        |   THEN min_ts >= epoch(TIMESTAMP '2024-01-17 00:00:00')
        |  ELSE min_ts >= epoch(TIMESTAMP '2024-01-15 00:00:00')
        |   AND max_ts < epoch(TIMESTAMP '2024-01-17 00:00:00')
        | END AS boundary_ok
        |FROM g ORDER BY split""".stripMargin,

    "text_augment" ->
      s"""WITH d AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\\s+'), x -> x != '') AS toks
        | FROM documents WHERE doc_id < 5),
        |pos AS (SELECT doc_id, unnest(toks) AS tok,
        |  generate_subscripts(toks, 1) AS i FROM d),
        |keep AS (SELECT doc_id, i, tok FROM pos
        |  WHERE ${duckHex16("CAST(doc_id AS VARCHAR) || ':' || " +
            "CAST(i - 1 AS VARCHAR) || ':42'")} % 100 >= 15),
        |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
        |   string_agg(tok, ' ' ORDER BY i) AS augmented
        |  FROM keep GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(toks) AS INT) AS n_tokens,
        | coalesce(n_kept, 0) AS n_kept,
        | coalesce(augmented, '') AS augmented
        |FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    "pipeline_temperature_mix" ->
      """WITH per AS (SELECT lang AS source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tn,
        |  sum(pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE))) AS ta FROM per)
        |SELECT source, n,
        | round(CAST(n AS DOUBLE) / tn, 6) AS natural_share,
        | round(pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE)) / ta, 6)
        |   AS smoothed_share,
        | round((pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE)) / ta)
        |   / (CAST(n AS DOUBLE) / tn), 6) AS boost
        |FROM per, t ORDER BY source""".stripMargin,

    "text_hybrid_search" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |c AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(toks)) AS avgdl,
        |       CAST(sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END)
        |         AS DOUBLE) AS dfa,
        |       CAST(sum(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END)
        |         AS DOUBLE) AS dfb
        |      FROM d),
        |tf AS (SELECT doc_id, toks,
        |        CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS ta,
        |        CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tb
        |       FROM d),
        |sc AS (SELECT doc_id,
        |        round(ln(1 + (n - dfa + 0.5)/(dfa + 0.5)) * ta * 2.2
        |          / (ta + 1.2*(0.25 + 0.75*len(toks)/avgdl))
        |      + ln(1 + (n - dfb + 0.5)/(dfb + 0.5)) * tb * 2.2
        |          / (tb + 1.2*(0.25 + 0.75*len(toks)/avgdl)), 6) AS b
        |       FROM tf, c),
        |lex AS (SELECT doc_id, row_number() OVER (ORDER BY b DESC, doc_id)
        |          AS rank
        |        FROM (SELECT * FROM sc ORDER BY b DESC, doc_id LIMIT 20)),
        |qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
        |sem AS (SELECT vec_id AS doc_id,
        |  row_number() OVER (ORDER BY
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], qv.v), 4) DESC,
        |    vec_id) AS rank
        | FROM embeddings e, qv WHERE e.vec_id != 0
        | ORDER BY rank LIMIT 20),
        |u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem)
        |SELECT doc_id, round(sum(CAST(1 AS DOUBLE) / (60 + rank)), 8) AS rrf,
        | CAST(count(*) AS BIGINT) AS n_lists
        |FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "text_vocab_drift" ->
      """WITH ta AS (SELECT t, count(*) AS c_a FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x != '')) AS t
        |  FROM documents WHERE doc_id % 2 = 0) GROUP BY t),
        |tb AS (SELECT t, count(*) AS c_b FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x != '')) AS t
        |  FROM documents WHERE doc_id % 2 != 0) GROUP BY t),
        |tots AS (SELECT (SELECT CAST(sum(c_a) AS DOUBLE) FROM ta) AS na,
        |         (SELECT CAST(sum(c_b) AS DOUBLE) FROM tb) AS nb),
        |j AS (SELECT coalesce(ta.t, tb.t) AS term,
        |   CAST(coalesce(c_a, 0) AS BIGINT) AS c_a,
        |   CAST(coalesce(c_b, 0) AS BIGINT) AS c_b
        | FROM ta FULL JOIN tb ON ta.t = tb.t)
        |SELECT term, c_a, c_b,
        | round(ln((CAST(c_b AS DOUBLE) + 1) / (nb + 1)) -
        |       ln((CAST(c_a AS DOUBLE) + 1) / (na + 1)), 6) AS log_ratio
        |FROM j CROSS JOIN tots
        |WHERE c_a + c_b >= 5
        |ORDER BY abs(round(ln((CAST(c_b AS DOUBLE) + 1) / (nb + 1)) -
        |       ln((CAST(c_a AS DOUBLE) + 1) / (na + 1)), 6)) DESC, term
        |LIMIT 15""".stripMargin,

    "sim_energy" ->
      """WITH e AS (SELECT
        |  list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) AS f,
        |  list_sum(list_transform((embedding::DOUBLE[])[1:8], x -> x*x)) AS e8,
        |  list_sum(list_transform((embedding::DOUBLE[])[1:16], x -> x*x)) AS e16,
        |  list_sum(list_transform((embedding::DOUBLE[])[1:32], x -> x*x)) AS e32,
        |  list_sum(list_transform((embedding::DOUBLE[])[1:64], x -> x*x)) AS e64
        | FROM embeddings),
        |g AS (SELECT * FROM e WHERE f > 0),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM g)
        |SELECT 8 AS prefix, nv AS n_vectors, round(avg(e8/f), 6) AS avg_energy FROM g, n GROUP BY nv
        |UNION ALL SELECT 16, nv, round(avg(e16/f), 6) FROM g, n GROUP BY nv
        |UNION ALL SELECT 32, nv, round(avg(e32/f), 6) FROM g, n GROUP BY nv
        |UNION ALL SELECT 64, nv, round(avg(e64/f), 6) FROM g, n GROUP BY nv
        |ORDER BY prefix""".stripMargin,

    "text_topics" ->
      """WITH tk AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> t != '') AS toks
        | FROM documents),
        |sc AS (SELECT doc_id, len(toks) AS n,
        |  CASE WHEN len(toks) = 0 THEN CAST(0 AS DOUBLE)
        |   ELSE CAST(len(list_filter(toks, t ->
        |     list_contains(['join','hash','merge','key'], t))) AS DOUBLE)
        |     / len(toks) END AS s1,
        |  CASE WHEN len(toks) = 0 THEN CAST(0 AS DOUBLE)
        |   ELSE CAST(len(list_filter(toks, t ->
        |     list_contains(['stream','window','batch'], t))) AS DOUBLE)
        |     / len(toks) END AS s2,
        |  CASE WHEN len(toks) = 0 THEN CAST(0 AS DOUBLE)
        |   ELSE CAST(len(list_filter(toks, t ->
        |     list_contains(['table','column','row','scan'], t))) AS DOUBLE)
        |     / len(toks) END AS s3
        | FROM tk),
        |lab AS (SELECT doc_id,
        |  CASE WHEN greatest(s1, s2, s3) <= CAST(0 AS DOUBLE) THEN 'none'
        |       WHEN s1 >= s2 AND s1 >= s3 THEN 'joins'
        |       WHEN s2 >= s3 THEN 'streaming'
        |       ELSE 'storage' END AS topic,
        |  round(greatest(s1, s2, s3), 6) AS score
        | FROM sc)
        |SELECT topic, CAST(count(*) AS BIGINT) AS n_docs,
        | round(avg(score), 6) AS avg_score
        |FROM lab GROUP BY topic ORDER BY topic""".stripMargin,

    "text_pmi" ->
      """WITH toks AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS ts FROM documents),
        |pos AS (SELECT doc_id, unnest(ts) AS w,
        |        generate_subscripts(ts, 1) AS i FROM toks),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM pos GROUP BY 1),
        |nu AS (SELECT CAST(sum(cw) AS DOUBLE) AS n FROM uni),
        |bi AS (SELECT p1.w AS a, p2.w AS b, CAST(count(*) AS BIGINT) AS n_pair
        |       FROM pos p1 JOIN pos p2
        |         ON p1.doc_id = p2.doc_id AND p2.i = p1.i + 1
        |       GROUP BY 1, 2),
        |nb AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS n FROM bi)
        |SELECT bi.a, bi.b, bi.n_pair,
        | round(ln((bi.n_pair / nb.n) /
        |   ((ua.cw / nu.n) * (ub.cw / nu.n))), 6) AS pmi
        |FROM bi JOIN uni ua ON bi.a = ua.w JOIN uni ub ON bi.b = ub.w
        |CROSS JOIN nu CROSS JOIN nb
        |WHERE bi.n_pair >= 5
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,

    "text_trending" ->
      """WITH cur AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS term FROM documents WHERE doc_id % 2 = 0),
        |ref AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS term FROM documents WHERE doc_id % 2 = 1),
        |cc AS (SELECT term, CAST(count(*) AS BIGINT) AS n_cur FROM cur GROUP BY 1),
        |cr AS (SELECT term, CAST(count(*) AS BIGINT) AS n_ref FROM ref GROUP BY 1),
        |j AS (SELECT coalesce(cc.term, cr.term) AS term,
        |       coalesce(n_cur, 0) AS n_cur, coalesce(n_ref, 0) AS n_ref
        |      FROM cc FULL OUTER JOIN cr ON cc.term = cr.term),
        |tt AS (SELECT CAST(sum(n_cur) AS DOUBLE) AS tc,
        |       CAST(sum(n_ref) AS DOUBLE) AS tr,
        |       CAST(count(*) AS DOUBLE) AS v FROM j)
        |SELECT term, n_cur, n_ref,
        | round(ln(((n_cur + 1) / (tt.tc + tt.v)) /
        |   ((n_ref + 1) / (tt.tr + tt.v))), 6) AS trend
        |FROM j CROSS JOIN tt WHERE n_cur >= 5
        |ORDER BY trend DESC, term LIMIT 15""".stripMargin,

    // same plant, same digest-min first-appearance, same shard windows
    "pipeline_novelty_curve" ->
      """WITH aug AS (
        | SELECT doc_id % 5 AS shard, text FROM documents
        | UNION ALL SELECT (doc_id % 5 + 2) % 5, text FROM documents
        |  WHERE doc_id % 3 = 0),
        |p AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs
        | FROM aug GROUP BY 1),
        |f AS (SELECT min(shard) AS shard FROM aug GROUP BY md5(text)),
        |fn AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_new
        | FROM f GROUP BY 1)
        |SELECT p.shard, p.n_docs, coalesce(fn.n_new, 0) AS n_new,
        | round(coalesce(fn.n_new, 0) / CAST(p.n_docs AS DOUBLE), 6)
        |   AS novelty_rate,
        | CAST(sum(coalesce(fn.n_new, 0)) OVER (ORDER BY p.shard
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cum_new
        |FROM p LEFT JOIN fn ON p.shard = fn.shard ORDER BY p.shard""".stripMargin,

    // same sorted-ratio segments, same prefix/suffix window sums, same
    // unique-λ selection
    "pipeline_mixture_budget" ->
      """WITH a AS (SELECT source AS src, CAST(sum(n_chars) AS DOUBLE) AS avail
        | FROM documents GROUP BY 1),
        |b AS (SELECT src, avail, 0.05 AS w, avail * 1.2 AS cap,
        |  (avail * 1.2) / 0.05 AS ratio FROM a),
        |ann AS (SELECT src, avail, w, cap, ratio,
        |  coalesce(sum(cap) OVER (ORDER BY ratio, src
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ccp,
        |  sum(w) OVER (ORDER BY ratio, src
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sfw,
        |  coalesce(lag(ratio) OVER (ORDER BY ratio, src),
        |    CAST('-infinity' AS DOUBLE)) AS pr
        | FROM b),
        |l AS (SELECT min((180000.0 - ccp) / sfw) AS lam FROM ann
        | WHERE (180000.0 - ccp) / sfw < ratio
        |   AND (180000.0 - ccp) / sfw >= pr),
        |f AS (SELECT src, avail, w, cap,
        |  round(CASE WHEN l.lam IS NULL THEN cap
        |    ELSE least(l.lam * w, cap) END, 6) AS alloc
        | FROM ann, l)
        |SELECT src, avail AS avail_tokens, round(CAST(w AS DOUBLE), 6) AS weight,
        | round(cap, 6) AS cap, alloc,
        | round(alloc / avail, 6) AS epochs,
        | alloc = round(cap, 6) AS capped
        |FROM f ORDER BY src""".stripMargin,

    // same per-doc counts, same zero-folded VMR algebra
    "text_term_vmr" ->
      """WITH pd AS (SELECT doc_id,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        | FROM documents),
        |c AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
        | FROM pd GROUP BY 1, 2),
        |d AS (SELECT CAST(count(*) AS DOUBLE) AS d FROM documents),
        |s AS (SELECT t, CAST(sum(c) AS BIGINT) AS tf,
        |  CAST(sum(c * c) AS BIGINT) AS ssq,
        |  CAST(count(*) AS BIGINT) AS df
        | FROM c GROUP BY 1 HAVING sum(c) >= 30)
        |SELECT t, tf, df,
        | round((ssq / d.d - (tf / d.d) * (tf / d.d)) / (tf / d.d), 6) AS vmr
        |FROM s, d ORDER BY vmr DESC, t LIMIT 20""".stripMargin,

    // frequency-spectrum aggregates restated exactly
    "text_coverage" ->
      """WITH toks AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |   '\s+')) AS t FROM documents),
        |c AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(n) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        | CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        | round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) /
        |   CAST(sum(n) AS DOUBLE), 6) AS missing_mass,
        | round(CASE WHEN sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) > 0
        |  THEN count(*) + sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) *
        |   sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) /
        |   (2.0 * sum(CASE WHEN n = 2 THEN 1 ELSE 0 END))
        |  ELSE CAST(count(*) AS DOUBLE) END, 6) AS chao1
        |FROM c""".stripMargin,

    // same counts, same total-order rank, regr_slope == cov/var
    "text_zipf_fit" ->
      """WITH toks AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |   '\s+')) AS t FROM documents),
        |c AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM toks
        | GROUP BY 1 HAVING count(*) >= 2),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, t) AS rank FROM c),
        |l AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
        |  ln(CAST(n AS DOUBLE)) AS y FROM r)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        | round(regr_slope(y, x), 6) AS slope,
        | round(regr_intercept(y, x), 6) AS intercept,
        | round(corr(y, x) * corr(y, x), 6) AS r2
        |FROM l""".stripMargin,

    // the rake CTEs again, then ESS/deff over the applied (rounded)
    // per-row weights: row sums restated as n-weighted cell sums
    "pipeline_rake_ess" ->
      """WITH n AS (SELECT lang AS a, source AS b,
        |  CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM n),
        |w1 AS (SELECT a, b, n, n * (0.2 * (SELECT t FROM tot)) /
        |  (sum(n) OVER (PARTITION BY a)) AS w FROM n),
        |w2 AS (SELECT a, b, n, w * (0.05 * (SELECT t FROM tot)) /
        |  (sum(w) OVER (PARTITION BY b)) AS w FROM w1),
        |w3 AS (SELECT a, b, n, w * (0.2 * (SELECT t FROM tot)) /
        |  (sum(w) OVER (PARTITION BY a)) AS w FROM w2),
        |w4 AS (SELECT a, b, n, w * (0.05 * (SELECT t FROM tot)) /
        |  (sum(w) OVER (PARTITION BY b)) AS w FROM w3),
        |cell AS (SELECT n, round(w / n, 6) AS wr FROM w4)
        |SELECT CAST(sum(n) AS BIGINT) AS n,
        | round(sum(n * wr), 6) AS sum_w,
        | round(sum(n * wr) * sum(n * wr) / sum(n * wr * wr), 6) AS ess,
        | round(sum(n) * sum(n * wr * wr) /
        |   (sum(n * wr) * sum(n * wr)), 6) AS deff
        |FROM cell""".stripMargin,

    // mirrors TextFunctions.tokenDivergence term for term: add-0.5
    // smoothing over the union vocabulary, natural-log KL/JS
    "text_divergence" ->
      """WITH toks AS (SELECT lang AS g,
        |  unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
        | FROM documents),
        |c AS (SELECT g, t, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1, 2),
        |v AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS vs FROM c),
        |tot AS (SELECT g, CAST(sum(n) AS DOUBLE) AS ng FROM c GROUP BY 1),
        |grid AS (SELECT tot.g, vt.t,
        |  (coalesce(c.n, 0) + 0.5) / (tot.ng + 0.5 * (SELECT vs FROM v)) AS p
        | FROM (SELECT DISTINCT t FROM c) vt
        | CROSS JOIN tot
        | LEFT JOIN c ON c.g = tot.g AND c.t = vt.t),
        |pairs AS (SELECT a.g AS src_a, b.g AS src_b, a.p AS pa, b.p AS pb
        | FROM grid a JOIN grid b ON a.t = b.t AND a.g < b.g)
        |SELECT src_a, src_b,
        | round(sum(pa * ln(pa / pb)), 6) AS kl_ab,
        | round(sum(pb * ln(pb / pa)), 6) AS kl_ba,
        | round(0.5 * sum(pa * ln(pa * 2 / (pa + pb))) +
        |       0.5 * sum(pb * ln(pb * 2 / (pa + pb))), 6) AS js
        |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // DEFLATE has no SQL restatement — anchor + in-engine verdicts
    // (ratio range, planted repeated-phrase most compressible, high-
    // entropy repeated pattern still compresses), spec-pinned further.
    "text_compress" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(0 AS BIGINT) AS n_out_of_range,
        | true AS repeat_most_compressible,
        | true AS structure_beyond_entropy
        |FROM documents""".stripMargin,

    "text_entropy" ->
      """WITH d AS (SELECT source, string_split(text, '') AS cs
        |           FROM documents),
        |e AS (SELECT source, round(coalesce(list_sum(list_transform(
        |        list_distinct(cs), c ->
        |          -(len(list_filter(cs, x -> x = c)) * 1.0 / len(cs))
        |          * log2(len(list_filter(cs, x -> x = c)) * 1.0 / len(cs))
        |      )), 0), 6) AS h
        |      FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | round(avg(h), 6) AS avg_entropy,
        | round(min(h), 6) AS min_entropy,
        | round(max(h), 6) AS max_entropy
        |FROM e GROUP BY source ORDER BY source""".stripMargin,

    "pipeline_novelty" ->
      """WITH refg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(0, greatest(length(text) - 13, 0) + 1),
        |    i -> substr(text, CAST(i + 1 AS INT), 13)))) AS g
        |  FROM documents WHERE lang = 'en'),
        |cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(length(text) - 13, 0) + 1),
        |    i -> substr(text, CAST(i + 1 AS INT), 13)))) AS g
        |  FROM documents WHERE lang <> 'en'),
        |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_seen
        |      FROM cg LEFT JOIN refg r USING (g) GROUP BY doc_id)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        | round(avg(h.n_seen * 1.0 / h.n_grams), 6) AS avg_overlap,
        | round(min(round(h.n_seen * 1.0 / h.n_grams, 6)), 6) AS min_overlap,
        | round(max(round(h.n_seen * 1.0 / h.n_grams, 6)), 6) AS max_overlap,
        | true AS bloom_one_sided_ok, true AS bloom_bounded_ok
        |FROM h JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "text_rrf" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |c AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(toks)) AS avgdl,
        |       CAST(sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END)
        |         AS DOUBLE) AS dfa,
        |       CAST(sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END)
        |         AS DOUBLE) AS dfb,
        |       CAST(sum(CASE WHEN list_contains(toks, 'query') THEN 1 ELSE 0 END)
        |         AS DOUBLE) AS dfc
        |      FROM d),
        |tf AS (SELECT doc_id, toks,
        |        CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS ta,
        |        CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tb,
        |        CAST(len(list_filter(toks, x -> x = 'query')) AS DOUBLE) AS tc
        |       FROM d),
        |sc AS (SELECT doc_id, round(
        |        ln(1 + (n - dfa + 0.5)/(dfa + 0.5)) * ta * 2.2
        |          / (ta + 1.2*(0.25 + 0.75*len(toks)/avgdl))
        |      + ln(1 + (n - dfb + 0.5)/(dfb + 0.5)) * tb * 2.2
        |          / (tb + 1.2*(0.25 + 0.75*len(toks)/avgdl))
        |      + ln(1 + (n - dfc + 0.5)/(dfc + 0.5)) * tc * 2.2
        |          / (tc + 1.2*(0.25 + 0.75*len(toks)/avgdl)), 6) AS bm25
        |       FROM tf, c),
        |r1 AS (SELECT doc_id, rn AS rank FROM
        |        (SELECT doc_id, row_number() OVER
        |          (ORDER BY bm25 DESC, doc_id) AS rn FROM sc)
        |       WHERE rn <= 50),
        |r2 AS (SELECT doc_id, rn AS rank FROM
        |        (SELECT doc_id, row_number() OVER
        |          (ORDER BY n_chars DESC, doc_id) AS rn FROM documents)
        |       WHERE rn <= 50),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        |SELECT doc_id, round(sum(1.0/(60 + rank)), 8) AS rrf,
        | CAST(count(*) AS BIGINT) AS n_lists
        |FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin,

    "text_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |c AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(toks)) AS avgdl,
        |       CAST(sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END)
        |         AS DOUBLE) AS dfa,
        |       CAST(sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END)
        |         AS DOUBLE) AS dfb,
        |       CAST(sum(CASE WHEN list_contains(toks, 'query') THEN 1 ELSE 0 END)
        |         AS DOUBLE) AS dfc
        |      FROM d),
        |tf AS (SELECT doc_id, toks,
        |        CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS ta,
        |        CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tb,
        |        CAST(len(list_filter(toks, x -> x = 'query')) AS DOUBLE) AS tc
        |       FROM d),
        |sc AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
        |        ln(1 + (n - dfa + 0.5)/(dfa + 0.5)) * ta * 2.2
        |          / (ta + 1.2*(0.25 + 0.75*len(toks)/avgdl))
        |      + ln(1 + (n - dfb + 0.5)/(dfb + 0.5)) * tb * 2.2
        |          / (tb + 1.2*(0.25 + 0.75*len(toks)/avgdl))
        |      + ln(1 + (n - dfc + 0.5)/(dfc + 0.5)) * tc * 2.2
        |          / (tc + 1.2*(0.25 + 0.75*len(toks)/avgdl)) AS score
        |       FROM tf, c)
        |SELECT doc_id, dl, round(score, 6) AS bm25
        |FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "dedup_tfidf_pairs" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 120
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 5),
        |toks AS (SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS t FROM aug),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
        | FROM toks WHERE t != '' GROUP BY doc_id, t),
        |dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY t
        |        HAVING count(*) <= 1000),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM aug),
        |w AS (SELECT doc_id, tf.t AS t, tf * (ln((n + 1) / (df + 1)) + 1) AS w
        |      FROM tf JOIN dfq ON tf.t = dfq.t CROSS JOIN nn),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nm FROM w GROUP BY doc_id),
        |wn AS (SELECT w.doc_id AS doc_id, t, w / nm AS wn
        |       FROM w JOIN nrm USING (doc_id)),
        |pairs AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    round(sum(a.wn * b.wn), 4) AS cos
        |  FROM wn a JOIN wn b ON a.t = b.t AND a.doc_id < b.doc_id
        |  GROUP BY ia, ib),
        |kept AS (SELECT * FROM pairs WHERE cos >= 0.95),
        |cl AS (SELECT CAST(count(*) AS BIGINT) AS n_clone_pairs FROM kept
        |       WHERE ib = ia + 1000000 AND cos >= 0.9999)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        | round(max(cos), 4) AS max_cos,
        | (SELECT n_clone_pairs FROM cl) AS n_clone_pairs,
        | (SELECT n_clone_pairs FROM cl) = 5 AS clones_ok
        |FROM kept""".stripMargin,

    "dedup_containment" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
        |outr AS (SELECT a.doc_id + 2000000 AS doc_id,
        |          a.text || ' ' || b.text AS text
        |         FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
        |         WHERE a.doc_id % 2 = 0),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM outr),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 8, 0) + 1),
        |    i -> substr(text, CAST(i + 1 AS INT), 8))) AS s
        | FROM corpus)
        |SELECT i.doc_id AS inner_id, o.doc_id AS outer_id,
        | round(len(list_intersect(i.s, o.s)) * 1.0 / len(i.s), 6) AS containment
        |FROM sh i JOIN sh o ON i.doc_id <> o.doc_id
        | AND 100 * len(o.s) >= 90 * len(i.s)
        |WHERE len(i.s) > 0
        | AND 100 * len(list_intersect(i.s, o.s)) >= 90 * len(i.s)
        |ORDER BY 1, 2""".stripMargin,

    "dedup_cluster" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 5, 0) + 1),
        |    i -> substr(text, i + 1, 5))) AS s
        | FROM documents WHERE doc_id < 1000),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  AND 100 * least(len(a.s), len(b.s)) >= 51 * greatest(len(a.s), len(b.s))
        | WHERE 100 * len(list_intersect(a.s, b.s)) >=
        |   51 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
        |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "dedup_cluster_sizes" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 5, 0) + 1),
        |    i -> substr(text, i + 1, 5))) AS s
        | FROM documents WHERE doc_id < 1000),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  AND 100 * least(len(a.s), len(b.s)) >= 51 * greatest(len(a.s), len(b.s))
        | WHERE 100 * len(list_intersect(a.s, b.s)) >=
        |   51 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
        |cc AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
        |       FROM cc GROUP BY 1)
        |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM sz GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    "pipeline_curate_near" ->
      """WITH RECURSIVE scored AS (SELECT doc_id, text,
        |  round(0.5 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text))
        |   + 0.2 * (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text))
        |   + 0.3 * (CASE WHEN list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) * 1.0
        |       / greatest(len(string_split_regex(trim(text), '\s+')), 1) BETWEEN 3.0 AND 12.0
        |     THEN 1.0 ELSE 0.0 END), 6) AS q
        | FROM documents WHERE doc_id < 1000),
        |quality AS (SELECT * FROM scored WHERE q >= 0.5),
        |kept AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM quality) WHERE rn = 1),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 5, 0) + 1),
        |    i -> substr(text, i + 1, 5))) AS s
        | FROM kept),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  AND 100 * least(len(a.s), len(b.s)) >= 51 * greatest(len(a.s), len(b.s))
        | WHERE 100 * len(list_intersect(a.s, b.s)) >=
        |   51 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |fin AS (SELECT * FROM kept
        |  WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != component))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM quality) AS n_quality,
        | (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_exact,
        | (SELECT CAST(count(*) AS BIGINT) FROM fin) AS n_final,
        | (SELECT CAST(sum(length(text)) AS BIGINT) FROM fin) AS final_chars""".stripMargin,

    // Recursive transitive closure over the same exact pair graph, then
    // one row per component by (quality desc, id); singletons pass
    // through. Quality mirrors TextFunctions.qualityScore.
    "pipeline_curate_best" ->
      """WITH RECURSIVE scored AS (SELECT doc_id, text,
        |  round(0.5 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text))
        |   + 0.2 * (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text))
        |   + 0.3 * (CASE WHEN list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) * 1.0
        |       / greatest(len(string_split_regex(trim(text), '\s+')), 1) BETWEEN 3.0 AND 12.0
        |     THEN 1.0 ELSE 0.0 END), 6) AS q
        | FROM documents WHERE doc_id < 1000),
        |sh AS (SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 5, 0) + 1),
        |    i -> substr(text, i + 1, 5))) AS s
        | FROM scored),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  AND 100 * least(len(a.s), len(b.s)) >= 51 * greatest(len(a.s), len(b.s))
        | WHERE 100 * len(list_intersect(a.s, b.s)) >=
        |   51 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |best AS (SELECT s.doc_id, s.text FROM (
        |  SELECT s.*, row_number() OVER (PARTITION BY comp.component
        |    ORDER BY s.q DESC, s.doc_id) AS rk
        |  FROM scored s JOIN comp ON s.doc_id = comp.id) s WHERE s.rk = 1),
        |kept AS (SELECT doc_id, text FROM scored
        |  WHERE doc_id NOT IN (SELECT id FROM comp)
        |  UNION ALL SELECT doc_id, text FROM best)
        |SELECT CAST(count(*) AS BIGINT) AS n_kept,
        | CAST(sum(doc_id) AS BIGINT) AS kept_id_sum,
        | CAST(sum(length(text)) AS BIGINT) AS kept_chars FROM kept""".stripMargin,

    "pipeline_curate" ->
      """WITH scored AS (SELECT doc_id, text,
        |  round(0.5 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text))
        |   + 0.2 * (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text))
        |   + 0.3 * (CASE WHEN list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) * 1.0
        |       / greatest(len(string_split_regex(trim(text), '\s+')), 1) BETWEEN 3.0 AND 12.0
        |     THEN 1.0 ELSE 0.0 END), 6) AS q
        | FROM documents),
        |quality AS (SELECT * FROM scored WHERE q >= 0.5),
        |kept AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM quality) WHERE rn = 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input,
        | (SELECT CAST(count(*) AS BIGINT) FROM quality) AS n_quality,
        | (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_kept,
        | (SELECT round(avg(q), 6) FROM kept) AS avg_q_kept,
        | (SELECT CAST(sum(length(text)) AS BIGINT) FROM kept) AS kept_chars""".stripMargin,

    "pipeline_decontam" ->
      """WITH b AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_distinct(list_transform(
        |    range(0, greatest(length(text) - 30, 0) + 1),
        |    i -> substr(text, i + 1, 30)))) AS g
        |  FROM documents WHERE doc_id % 31 = 0)),
        |c AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(length(text) - 30, 0) + 1),
        |    i -> substr(text, i + 1, 30)))) AS g
        |  FROM documents WHERE doc_id % 31 != 0),
        |bad AS (SELECT DISTINCT c.doc_id FROM c JOIN b USING (g))
        |SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 31 != 0) AS n_corpus,
        | (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 31 = 0) AS n_bench,
        | (SELECT CAST(count(*) AS BIGINT) FROM bad) AS n_contaminated""".stripMargin,

    "pipeline_decontam_matrix" ->
      """WITH bg AS (SELECT DISTINCT benchmark, g FROM (
        |  SELECT 'suite_' || CAST(doc_id % 3 AS VARCHAR) AS benchmark,
        |    unnest(list_distinct(list_transform(
        |      range(0, greatest(length(text) - 30, 0) + 1),
        |      i -> substr(text, i + 1, 30)))) AS g
        |  FROM documents WHERE doc_id % 31 = 0)),
        |c AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(length(text) - 30, 0) + 1),
        |    i -> substr(text, i + 1, 30)))) AS g
        |  FROM documents WHERE doc_id % 31 != 0),
        |m AS (SELECT DISTINCT c.doc_id, bg.benchmark
        |      FROM c JOIN bg USING (g))
        |SELECT benchmark, CAST(count(*) AS BIGINT) AS n_docs
        |FROM m GROUP BY benchmark ORDER BY benchmark""".stripMargin,

    // the exact contaminated count is recomputed from raw grams; the
    // sketch-path booleans (superset, bounded FP overhead) must hold
    "pipeline_decontam_bloom" ->
      """WITH b AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(list_distinct(list_transform(
        |    range(0, greatest(length(text) - 30, 0) + 1),
        |    i -> substr(text, i + 1, 30)))) AS g
        |  FROM documents WHERE doc_id % 31 = 0)),
        |c AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(length(text) - 30, 0) + 1),
        |    i -> substr(text, i + 1, 30)))) AS g
        |  FROM documents WHERE doc_id % 31 != 0),
        |bad AS (SELECT DISTINCT c.doc_id FROM c JOIN b USING (g))
        |SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 31 != 0) AS n_corpus,
        | (SELECT CAST(count(*) AS BIGINT) FROM bad) AS n_exact,
        | true AS superset_ok, true AS fp_bounded_ok""".stripMargin,

    "pipeline_vocab" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
        | SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "pipeline_split" ->
      s"""WITH s AS (SELECT *, CASE
        |  WHEN ${duckHex16("CAST(source AS VARCHAR)")} % 1000 < 800 THEN 'train'
        |  WHEN ${duckHex16("CAST(source AS VARCHAR)")} % 1000 < 900 THEN 'valid'
        |  ELSE 'test' END AS split
        | FROM documents)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        | round(avg(n_chars), 6) AS avg_chars,
        | CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM s GROUP BY split ORDER BY split""".stripMargin,

    // Same md5-bucket rule as pipeline_split (conv of the first 4 hex
    // chars), 10000 buckets, per-lang thresholds.
    // raw-corpus anchors + the engine's structural verdicts (chunking
    // itself is engine-side; token mass is punctuation-invariant)
    "pipeline_chunk_sent" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |   AS total_tokens,
        | true AS all_docs_ok, true AS mass_ok,
        | true AS bounded_ok, true AS contiguous_ok
        |FROM documents
        |WHERE text IS NOT NULL AND trim(text) <> ''""".stripMargin,

    // same md5-bucket rule as the engine's hashBucket, per-nibble
    "pipeline_hash_features" ->
      s"""WITH tok AS (SELECT doc_id,
        |        unnest(string_split_regex(trim(text), '\\s+')) AS tok
        |       FROM documents),
        |b AS (SELECT doc_id, ${duckHex16("tok")} % 1024 AS bucket
        |      FROM tok WHERE tok <> ''),
        |per AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf
        |        FROM b GROUP BY 1, 2)
        |SELECT CAST(bucket AS INT) AS bucket,
        | CAST(sum(tf) AS BIGINT) AS total_tf,
        | CAST(count(*) AS BIGINT) AS df
        |FROM per GROUP BY 1 ORDER BY total_tf DESC, bucket LIMIT 15""".stripMargin,

    // the ring replayed from the same md5 total order
    "sim_ring_negatives" ->
      """WITH ids AS (SELECT DISTINCT vec_id AS id FROM embeddings
        |             WHERE vec_id < 50),
        |rk AS (SELECT id, row_number()
        |        OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS r FROM ids),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
        |a AS (SELECT id, r, o.off FROM rk,
        |       (SELECT unnest([1, 2, 3]) AS off) o, n WHERE o.off < n.n),
        |j AS (SELECT a.id, a.off,
        |       ((a.r - 1 + a.off) % (SELECT n FROM n)) + 1 AS nr FROM a)
        |SELECT j.id, rk.id AS neg_id, CAST(j.off AS BIGINT) AS off
        |FROM j JOIN rk ON rk.r = j.nr
        |ORDER BY j.id, j.off""".stripMargin,

    // the same md5-bucket fold rule restated per-nibble
    "pipeline_kfold" ->
      s"""WITH a AS (SELECT ${duckHex16("CAST(source AS VARCHAR)")} % 5
        |        AS fold FROM documents),
        |per AS (SELECT CAST(fold AS INT) AS fold,
        |        CAST(count(*) AS BIGINT) AS n_test FROM a GROUP BY 1),
        |t AS (SELECT CAST(sum(n_test) AS BIGINT) AS n FROM per)
        |SELECT fold, n_test, CAST(t.n - n_test AS BIGINT) AS n_train,
        | round(n_test * 5 / CAST(t.n AS DOUBLE), 6) AS skew
        |FROM per, t ORDER BY fold""".stripMargin,

    "pipeline_sample" ->
      s"""WITH s AS (SELECT *,
        |  ${duckHex16("CAST(doc_id AS VARCHAR)")} % 10000 AS b
        | FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sampled_chars
        |FROM s
        |WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2500 ELSE 1000 END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "pipeline_pack" ->
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks FROM documents),
        |c AS (SELECT *, sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d),
        |p AS (SELECT *, CAST(floor((cum - toks) / 2048.0) AS BIGINT) AS pack_id FROM c),
        |g AS (SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS pack_toks FROM p GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_packs,
        | max(pack_toks) AS max_pack_toks,
        | CAST(sum(n_docs) AS BIGINT) AS n_docs
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // Mirrors mixToTarget's rate derivation exactly: budget = min(n/w)
    // over target strata present in the corpus; threshold = floor(w *
    // budget / n * 10000 + 0.5) (Scala math.round); same md5 bucket rule
    // as pipeline_split/pipeline_sample.
    "pipeline_mix" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
        |t(lang, w) AS (VALUES ('en', 0.4), ('zh', 0.2), ('de', 0.2), ('fr', 0.1), ('es', 0.1)),
        |b AS (SELECT min(n / w) AS budget FROM c JOIN t USING (lang)),
        |r AS (SELECT lang, CAST(floor(w * (SELECT budget FROM b) / n * 10000 + 0.5) AS INT) AS thr
        |  FROM c JOIN t USING (lang)),
        |k AS (SELECT d.* FROM documents d JOIN r USING (lang)
        |  WHERE ${duckHex16("CAST(doc_id AS VARCHAR)")} % 10000 < thr)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS mixed_chars
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    // Window starts 0, 16, 32, … capped at the stride-ceiling of
    // (len − 32): generation stops once a window reaches the document end
    // (no window fully contained in the previous one); the last window may
    // still be shorter. Chunk text compared verbatim.
    "pipeline_chunk" ->
      """WITH toks AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
        | FROM documents WHERE doc_id < 100),
        |chunks AS (
        | SELECT doc_id, CAST(s / 16 AS INT) AS chunk_id,
        |        array_to_string(list_slice(l, s + 1, s + 32), ' ') AS chunk
        | FROM toks, unnest(range(0,
        |   greatest(CAST(ceil((len(l) - 32) / 16.0) AS INT) * 16, 0) + 1,
        |   16)) AS u(s))
        |SELECT doc_id, chunk_id, chunk,
        | CAST(len(string_split_regex(chunk, '\s+')) AS BIGINT) AS n_toks
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,

    // Identical double-exact bucket formula and the textbook Morton
    // interleave as explicit shift/and terms — bit-for-bit agreement
    // pins the whole key arithmetic.
    "pipeline_zorder" -> {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((bp >> $i) & 1) << ${2 * i + 1})",
        s"(((bs >> $i) & 1) << ${2 * i})")).mkString(" + ")
      s"""WITH r AS (SELECT min(l_partkey) p_lo, max(l_partkey) p_hi,
        |  min(l_suppkey) s_lo, max(l_suppkey) s_hi FROM lineitem),
        |b AS (SELECT
        |  CAST(floor((coalesce(l_partkey, p_lo) - p_lo) * 256.0 / (p_hi - p_lo + 1.0)) AS BIGINT) bp,
        |  CAST(floor((coalesce(l_suppkey, s_lo) - s_lo) * 256.0 / (s_hi - s_lo + 1.0)) AS BIGINT) bs
        | FROM lineitem, r),
        |z AS (SELECT $terms AS z FROM b)
        |SELECT CAST(count(*) AS BIGINT) AS n, min(z) AS z_min, max(z) AS z_max,
        | CAST(sum(z) AS BIGINT) AS z_sum, CAST(count(DISTINCT z) AS BIGINT) AS z_cells
        |FROM z""".stripMargin
    },

    // corpus anchor + the engine's structural verdicts (cluster
    // geometry itself is engine-side; all booleans deterministic under
    // the fixed seed)
    // same md5-bucket split rule as pipeline_split; dup pairs from text
    // equality; straddle counts per unordered split pair
    "pipeline_split_leakage" ->
      s"""WITH corpus AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id + 10000, text FROM documents),
        |s AS (SELECT doc_id, CASE
        |  WHEN ${duckHex16("CAST(doc_id AS VARCHAR)")} % 1000 < 800 THEN 'train'
        |  WHEN ${duckHex16("CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'valid'
        |  ELSE 'test' END AS split, md5(text) AS dg
        | FROM corpus),
        |p AS (SELECT a.split AS sa, b.split AS sb FROM s a JOIN s b
        |  ON a.dg = b.dg AND a.doc_id < b.doc_id)
        |SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | least(sa, sb) != greatest(sa, sb) AS leaking
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // both the exact digest-set Jaccard AND the MinHash estimate are
    // recomputed in SQL — min over the lexicographic md5 order is the
    // same permutation in both engines, so est_jaccard matches exactly
    "dedup_source_overlap" ->
      """WITH d AS (
        | SELECT 'a' AS g, md5(text) AS dg FROM documents WHERE doc_id < 300
        | UNION ALL SELECT 'b', md5(text) FROM documents
        |  WHERE doc_id >= 200 AND doc_id < 500
        | UNION ALL SELECT 'c', md5(text) FROM documents WHERE doc_id % 2 = 0),
        |gd AS (SELECT DISTINCT g, dg FROM d),
        |sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM gd GROUP BY 1),
        |common AS (SELECT a.g AS src_a, b.g AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_common
        | FROM gd a JOIN gd b ON a.dg = b.dg AND a.g < b.g GROUP BY 1, 2),
        |sig AS (SELECT g, i, min(md5(dg || ':' || i)) AS m
        | FROM gd CROSS JOIN (SELECT unnest(range(64)) AS i) ii GROUP BY 1, 2),
        |est AS (SELECT a.g AS src_a, b.g AS src_b,
        |  sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
        | FROM sig a JOIN sig b ON a.i = b.i AND a.g < b.g GROUP BY 1, 2)
        |SELECT s1.g AS src_a, s2.g AS src_b, s1.n AS n_a, s2.n AS n_b,
        | coalesce(c.n_common, 0) AS n_common,
        | round(coalesce(c.n_common, 0) /
        |   CAST(s1.n + s2.n - coalesce(c.n_common, 0) AS DOUBLE), 6) AS jaccard,
        | est.est_jaccard
        |FROM sizes s1 JOIN sizes s2 ON s1.g < s2.g
        |LEFT JOIN common c ON c.src_a = s1.g AND c.src_b = s2.g
        |JOIN est ON est.src_a = s1.g AND est.src_b = s2.g
        |ORDER BY 1, 2""".stripMargin,

    // unrolls DataPrep.rakeWeights' two IPF iterations exactly: each
    // half-step scales cell masses so one margin hits its uniform
    // target, as windowed partition sums
    "pipeline_rake" ->
      """WITH n AS (SELECT lang AS a, source AS b,
        |  CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM n),
        |w1 AS (SELECT a, b, n, n * (0.2 * (SELECT t FROM tot)) /
        |  (sum(n) OVER (PARTITION BY a)) AS w FROM n),
        |w2 AS (SELECT a, b, n, w * (0.05 * (SELECT t FROM tot)) /
        |  (sum(w) OVER (PARTITION BY b)) AS w FROM w1),
        |w3 AS (SELECT a, b, n, w * (0.2 * (SELECT t FROM tot)) /
        |  (sum(w) OVER (PARTITION BY a)) AS w FROM w2),
        |w4 AS (SELECT a, b, n, w * (0.05 * (SELECT t FROM tot)) /
        |  (sum(w) OVER (PARTITION BY b)) AS w FROM w3)
        |SELECT a AS lang, b AS source, n, round(w / n, 6) AS weight
        |FROM w4 ORDER BY 1, 2""".stripMargin,

    "pipeline_cluster_balance" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_in,
        | true AS n_clusters_ok, true AS coverage_ok, true AS spread_ok,
        | true AS binding_whole_ok, true AS balance_ok
        |FROM embeddings""".stripMargin,

    // Same plant, same 30-char window marking (keep = min doc id per
    // window, df over distinct docs), same cumulative-max span merge,
    // same between-spans + tail reassembly. The engine anchors on
    // xxhash64 of the identical windows — 64-bit collisions are the only
    // possible divergence (negligible).
    "text_span_dedup" ->
      """WITH d AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 6 = 0
        |   THEN text || ' the quick brown fox jumps over the lazy dog again'
        |   ELSE text END AS text
        | FROM documents),
        |g AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
        |   substr(text, CAST(u.i AS INT) + 1, 30) AS gram
        | FROM d, unnest(range(0, greatest(length(text) - 30, 0) + 1)) AS u(i)),
        |own AS (SELECT gram, min(doc_id) AS keep, count(DISTINCT doc_id) AS df
        | FROM g GROUP BY gram),
        |m AS (SELECT g.doc_id, g.pos FROM g JOIN own USING (gram)
        | WHERE own.df >= 2 AND g.doc_id != own.keep),
        |w AS (SELECT doc_id, pos, max(pos + 30) OVER (PARTITION BY doc_id ORDER BY pos
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m),
        |sb AS (SELECT doc_id, pos,
        |   CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS brk FROM w),
        |sp AS (SELECT doc_id, span, min(pos) AS s, max(pos) + 30 AS e FROM (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span
        |  FROM sb) GROUP BY 1, 2),
        |segs AS (
        | SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS ks,
        |        s AS ke FROM sp
        | UNION ALL
        | SELECT doc_id, max(e) AS ks, NULL AS ke FROM sp GROUP BY doc_id),
        |cln AS (SELECT segs.doc_id,
        |   string_agg(substr(d.text, ks + 1, coalesce(ke, length(d.text)) - ks),
        |     '' ORDER BY ks) AS clean
        | FROM segs JOIN d USING (doc_id) GROUP BY segs.doc_id),
        |spn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM sp GROUP BY doc_id),
        |res AS (SELECT d.doc_id, d.source, length(d.text) AS raw_len,
        |   coalesce(c.clean, d.text) AS clean, coalesce(spn.n_spans, 0) AS n_spans
        | FROM d LEFT JOIN cln c USING (doc_id) LEFT JOIN spn USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_spans) AS BIGINT) AS n_spans,
        | CAST(sum(raw_len - length(clean)) AS BIGINT) AS chars_removed,
        | CAST(sum(length(clean)) AS BIGINT) AS clean_chars
        |FROM res GROUP BY source ORDER BY source""".stripMargin,

    // Full corpus×bench cosine cross product (the engine folds the
    // bench side as a plan-time literal instead); round(max, 6)
    // mirrors the engine's per-row rounding, flag from the unrounded
    // max, avg of the rounded values rounded at 4.
    "pipeline_semantic_decontam" ->
      """WITH b AS (SELECT embedding::DOUBLE[] AS bv FROM embeddings
        |           WHERE vec_id < 20 AND embedding IS NOT NULL),
        |c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |      FROM embeddings),
        |s AS (SELECT c.vec_id, c.label,
        |        CASE WHEN c.v IS NULL THEN NULL
        |          ELSE round(max(list_cosine_similarity(c.v, b.bv)), 6) END
        |          AS best_cos,
        |        CASE WHEN c.v IS NULL THEN NULL
        |          ELSE max(list_cosine_similarity(c.v, b.bv)) >= 0.8 END
        |          AS contaminated
        |       FROM c, b GROUP BY c.vec_id, c.label, c.v IS NULL)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_contaminated,
        | round(avg(best_cos), 4) AS avg_best
        |FROM s GROUP BY label ORDER BY label""".stripMargin,

    // The two CTE machines chained: stage 1 = per-doc first-occurrence
    // self-repeat cut, stage 2 = cross-doc min-id-canonical cut over
    // stage 1's cleaned text. Every stage-2 structure (g2/own2/m2/...)
    // reruns the dedup_exact_substr algebra on d2.
    "dedup_substr_full" ->
      """WITH d AS (SELECT doc_id, source, text
        |   || CASE WHEN doc_id % 5 = 0 THEN ' ' ||
        |     'selfrep1 selfrep2 selfrep3 selfrep4 selfrep5 selfrep6 selfrep7 selfrep8 selfrep9 selfrep10 selfrep11 selfrep12 selfrep13 selfrep14 selfrep15'
        |     || ' ' ||
        |     'selfrep1 selfrep2 selfrep3 selfrep4 selfrep5 selfrep6 selfrep7 selfrep8 selfrep9 selfrep10 selfrep11 selfrep12 selfrep13 selfrep14 selfrep15'
        |     ELSE '' END
        |   || CASE WHEN doc_id % 7 = 0
        |     THEN ' exact span alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau'
        |     ELSE '' END AS text
        | FROM documents),
        |tk AS (SELECT doc_id, source,
        |   string_split_regex(trim(text), '\s+') AS toks FROM d),
        |g AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
        |   array_to_string(toks[(CAST(u.i AS INT) + 1):(CAST(u.i AS INT) + 12)], ' ') AS gram
        | FROM tk, unnest(range(0, greatest(len(toks) - 11, 0))) AS u(i)),
        |fg AS (SELECT doc_id, gram, min(pos) AS fp FROM g GROUP BY 1, 2),
        |m AS (SELECT g.doc_id, g.pos FROM g JOIN fg USING (doc_id, gram)
        | WHERE g.pos > fg.fp),
        |w AS (SELECT doc_id, pos, max(pos + 12) OVER (PARTITION BY doc_id ORDER BY pos
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m),
        |sb AS (SELECT doc_id, pos,
        |   CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS brk FROM w),
        |sp AS (SELECT doc_id, span, min(pos) AS s, max(pos) + 12 AS e FROM (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span
        |  FROM sb) GROUP BY 1, 2),
        |pos AS (SELECT doc_id, CAST(u.i AS INT) AS p,
        |   toks[CAST(u.i AS INT) + 1] AS tok
        | FROM tk, unnest(range(0, len(toks))) AS u(i)),
        |kept AS (SELECT pos.doc_id, p, tok FROM pos
        | LEFT JOIN sp ON pos.doc_id = sp.doc_id AND p >= sp.s AND p < sp.e
        | WHERE sp.doc_id IS NULL),
        |cln AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean,
        |   CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id),
        |d2 AS (SELECT tk.doc_id, tk.source,
        |   len(tk.toks) - coalesce(c.n_kept, 0) AS self_removed,
        |   coalesce(c.clean, '') AS text
        | FROM tk LEFT JOIN cln c USING (doc_id)),
        |tk2 AS (SELECT doc_id, source, self_removed,
        |   string_split_regex(trim(text), '\s+') AS toks FROM d2),
        |g2 AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
        |   array_to_string(toks[(CAST(u.i AS INT) + 1):(CAST(u.i AS INT) + 12)], ' ') AS gram
        | FROM tk2, unnest(range(0, greatest(len(toks) - 11, 0))) AS u(i)),
        |own2 AS (SELECT gram, min(doc_id) AS keep, count(DISTINCT doc_id) AS df
        | FROM g2 GROUP BY gram),
        |m2 AS (SELECT g2.doc_id, g2.pos FROM g2 JOIN own2 USING (gram)
        | WHERE own2.df >= 2 AND g2.doc_id != own2.keep),
        |w2 AS (SELECT doc_id, pos, max(pos + 12) OVER (PARTITION BY doc_id ORDER BY pos
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m2),
        |sb2 AS (SELECT doc_id, pos,
        |   CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS brk FROM w2),
        |sp2 AS (SELECT doc_id, span, min(pos) AS s, max(pos) + 12 AS e FROM (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span
        |  FROM sb2) GROUP BY 1, 2),
        |pos2 AS (SELECT doc_id, CAST(u.i AS INT) AS p,
        |   toks[CAST(u.i AS INT) + 1] AS tok
        | FROM tk2, unnest(range(0, len(toks))) AS u(i)),
        |kept2 AS (SELECT pos2.doc_id, p, tok FROM pos2
        | LEFT JOIN sp2 ON pos2.doc_id = sp2.doc_id AND p >= sp2.s AND p < sp2.e
        | WHERE sp2.doc_id IS NULL),
        |cln2 AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean,
        |   CAST(count(*) AS BIGINT) AS n_kept FROM kept2 GROUP BY doc_id),
        |res AS (SELECT tk2.doc_id, tk2.source, tk2.self_removed,
        |   len(tk2.toks) - coalesce(c2.n_kept, 0) AS cross_removed,
        |   coalesce(c2.clean, '') AS clean
        | FROM tk2 LEFT JOIN cln2 c2 USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(self_removed) AS BIGINT) AS self_removed,
        | CAST(sum(cross_removed) AS BIGINT) AS cross_removed,
        | CAST(sum(length(clean)) AS BIGINT) AS clean_chars
        |FROM res GROUP BY source ORDER BY source""".stripMargin,

    // Per-doc first-occurrence ownership on gram STRINGS (engine: a
    // rolling polynomial over xxhash64 token hashes inside the native
    // self_repeat_spans expression): covered = positions whose gram
    // has an earlier occurrence in the SAME doc; same merge/cut/
    // aggregate machinery as dedup_exact_substr.
    "dedup_self_substr" ->
      """WITH d AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 5 = 0
        |   THEN text || ' ' ||
        |     'selfrep1 selfrep2 selfrep3 selfrep4 selfrep5 selfrep6 selfrep7 selfrep8 selfrep9 selfrep10 selfrep11 selfrep12 selfrep13 selfrep14 selfrep15'
        |     || ' ' ||
        |     'selfrep1 selfrep2 selfrep3 selfrep4 selfrep5 selfrep6 selfrep7 selfrep8 selfrep9 selfrep10 selfrep11 selfrep12 selfrep13 selfrep14 selfrep15'
        |   ELSE text END AS text
        | FROM documents),
        |tk AS (SELECT doc_id, source,
        |   string_split_regex(trim(text), '\s+') AS toks FROM d),
        |g AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
        |   array_to_string(toks[(CAST(u.i AS INT) + 1):(CAST(u.i AS INT) + 12)], ' ') AS gram
        | FROM tk, unnest(range(0, greatest(len(toks) - 11, 0))) AS u(i)),
        |fg AS (SELECT doc_id, gram, min(pos) AS fp FROM g GROUP BY 1, 2),
        |m AS (SELECT g.doc_id, g.pos FROM g JOIN fg USING (doc_id, gram)
        | WHERE g.pos > fg.fp),
        |w AS (SELECT doc_id, pos, max(pos + 12) OVER (PARTITION BY doc_id ORDER BY pos
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m),
        |sb AS (SELECT doc_id, pos,
        |   CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS brk FROM w),
        |sp AS (SELECT doc_id, span, min(pos) AS s, max(pos) + 12 AS e FROM (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span
        |  FROM sb) GROUP BY 1, 2),
        |pos AS (SELECT doc_id, CAST(u.i AS INT) AS p,
        |   toks[CAST(u.i AS INT) + 1] AS tok
        | FROM tk, unnest(range(0, len(toks))) AS u(i)),
        |kept AS (SELECT pos.doc_id, p, tok FROM pos
        | LEFT JOIN sp ON pos.doc_id = sp.doc_id AND p >= sp.s AND p < sp.e
        | WHERE sp.doc_id IS NULL),
        |cln AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean,
        |   CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id),
        |spn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
        | FROM sp GROUP BY doc_id),
        |res AS (SELECT tk.doc_id, tk.source, len(tk.toks) AS n_tokens,
        |   coalesce(c.clean, '') AS clean,
        |   len(tk.toks) - coalesce(c.n_kept, 0) AS tokens_removed,
        |   coalesce(spn.n_spans, 0) AS n_spans
        | FROM tk LEFT JOIN cln c USING (doc_id) LEFT JOIN spn USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        | CAST(sum(n_spans) AS BIGINT) AS n_spans,
        | CAST(sum(tokens_removed) AS BIGINT) AS tokens_removed,
        | CAST(sum(length(clean)) AS BIGINT) AS clean_chars
        |FROM res GROUP BY source ORDER BY source""".stripMargin,

    // Token-12-gram ownership on gram STRINGS (engine: xxhash64 of the
    // same grams); covered windows [pos, pos+12) merged per doc by the
    // same cummax/break machinery as text_span_dedup, then the cut is
    // restated as positions NOT covered by any span (the engine's
    // indexed filter), space-joined in position order.
    "dedup_exact_substr" ->
      """WITH d AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 7 = 0
        |   THEN text || ' exact span alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau'
        |   ELSE text END AS text
        | FROM documents),
        |tk AS (SELECT doc_id, source,
        |   string_split_regex(trim(text), '\s+') AS toks FROM d),
        |g AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
        |   array_to_string(toks[(CAST(u.i AS INT) + 1):(CAST(u.i AS INT) + 12)], ' ') AS gram
        | FROM tk, unnest(range(0, greatest(len(toks) - 11, 0))) AS u(i)),
        |own AS (SELECT gram, min(doc_id) AS keep, count(DISTINCT doc_id) AS df
        | FROM g GROUP BY gram),
        |m AS (SELECT g.doc_id, g.pos FROM g JOIN own USING (gram)
        | WHERE own.df >= 2 AND g.doc_id != own.keep),
        |w AS (SELECT doc_id, pos, max(pos + 12) OVER (PARTITION BY doc_id ORDER BY pos
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM m),
        |sb AS (SELECT doc_id, pos,
        |   CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS brk FROM w),
        |sp AS (SELECT doc_id, span, min(pos) AS s, max(pos) + 12 AS e FROM (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span
        |  FROM sb) GROUP BY 1, 2),
        |pos AS (SELECT doc_id, CAST(u.i AS INT) AS p,
        |   toks[CAST(u.i AS INT) + 1] AS tok
        | FROM tk, unnest(range(0, len(toks))) AS u(i)),
        |kept AS (SELECT pos.doc_id, p, tok FROM pos
        | LEFT JOIN sp ON pos.doc_id = sp.doc_id AND p >= sp.s AND p < sp.e
        | WHERE sp.doc_id IS NULL),
        |cln AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean,
        |   CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id),
        |spn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
        | FROM sp GROUP BY doc_id),
        |res AS (SELECT tk.doc_id, tk.source, len(tk.toks) AS n_tokens,
        |   coalesce(c.clean, '') AS clean,
        |   len(tk.toks) - coalesce(c.n_kept, 0) AS tokens_removed,
        |   coalesce(spn.n_spans, 0) AS n_spans
        | FROM tk LEFT JOIN cln c USING (doc_id) LEFT JOIN spn USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        | CAST(sum(n_spans) AS BIGINT) AS n_spans,
        | CAST(sum(tokens_removed) AS BIGINT) AS tokens_removed,
        | CAST(sum(length(clean)) AS BIGINT) AS clean_chars
        |FROM res GROUP BY source ORDER BY source""".stripMargin,

    // Same banner plant, same width-8 token-line structure as
    // TextFunctions.tokenLines (trailing partial line included, empty
    // doc → one empty line), df over DISTINCT docs, survivors rejoined
    // in position order with single spaces.
    "text_line_dedup" ->
      """WITH d AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 5 = 0
        |   THEN 'dup0 dup1 dup2 dup3 dup4 dup5 dup6 dup7 ' || text
        |   ELSE text END AS text
        | FROM documents),
        |tk AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks FROM d),
        |e AS (SELECT doc_id, source, CAST(u.i AS INT) AS pos,
        |   array_to_string(toks[(u.i*8+1):(u.i*8+8)], ' ') AS line
        | FROM tk, unnest(range(0, greatest(CAST(ceil(len(toks) / 8.0) AS INT), 1))) AS u(i)),
        |df AS (SELECT line, count(DISTINCT doc_id) AS df FROM e GROUP BY line),
        |f AS (SELECT e.doc_id, e.source, e.pos, e.line, (df.df >= 50) AS dup
        | FROM e JOIN df USING (line)),
        |g AS (SELECT doc_id, source,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  array_to_string(list_transform(
        |    list_sort(list(struct_pack(pos := pos, line := line)) FILTER (WHERE NOT dup)),
        |    s -> s.line), ' ') AS clean
        | FROM f GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_lines) AS BIGINT) AS lines_total,
        | CAST(sum(n_dropped) AS BIGINT) AS lines_dropped,
        | CAST(sum(length(clean)) AS BIGINT) AS clean_chars
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // Same banner plant, word-5-grams as STRINGS (the engine carries
    // xxhash64 of the same strings — a collision can only inflate one
    // doc's n_boiler, never deflate), df >= 50 across distinct docs.
    "text_boilerplate" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |  THEN 'subscribe to our newsletter all rights reserved click here to continue ' || text
        |  ELSE text END AS text FROM documents),
        |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM d),
        |grams AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(l) - 5, -1) + 1),
        |    i -> array_to_string(list_slice(l, i + 1, i + 5), ' '))) AS g FROM toks),
        |boiler AS (SELECT g FROM (
        |  SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY 1) WHERE df >= 50),
        |frac AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |   CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        |  FROM grams LEFT JOIN boiler b USING (g) GROUP BY 1)
        |SELECT doc_id, n_grams, n_boiler,
        | round(n_boiler * 1.0 / n_grams, 6) AS boiler_frac
        |FROM frac WHERE doc_id < 60 ORDER BY doc_id""".stripMargin,

    "pipeline_domain_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,

    // quantile_cont is the same interpolated percentile as Spark's exact
    // `percentile`; n_chars is integral so the interpolation is exact in
    // double on both engines (no ulp edge at the threshold).
    "pipeline_quantile" ->
      """WITH thr AS (SELECT quantile_cont(n_chars, 0.75) AS t FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | min(n_chars) AS min_chars,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents, thr WHERE n_chars >= t
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // identical md5 hex on both engines; hex-string ordering is plain
    // byte order in both
    "pipeline_shuffle" ->
      """WITH s AS (SELECT doc_id, md5('42' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents ORDER BY shuffle_key, doc_id LIMIT 30)
        |SELECT doc_id, shuffle_key,
        | CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS INT) AS pos
        |FROM s""".stripMargin,

    // the engine anti-joins on xxhash64(text); the oracle anti-joins on
    // the text itself — identical unless a 64-bit collision (negligible)
    "dedup_incremental" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        | CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |FROM documents b
        |WHERE b.doc_id % 3 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c WHERE c.doc_id % 5 = 0 AND c.text = b.text)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // the oracle sniffs the blob by MAGIC BYTES with the same rules as
    // Multimodal.sniffFormat (not by the synthesis rule) — so the two
    // sides agree even for text that happens to start with an ASCII
    // magic prefix like "BM", "GIF8" or "RIFF"
    "mm_meta" ->
      """WITH b AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN
        |    '\x89PNG\x0D\x0A\x1A\x0A\x00\x00\x00\x0DIHDR\x00\x00\x00\x40\x00\x00\x00\x20'::BLOB || encode(text)
        |  WHEN doc_id % 4 = 1 THEN
        |    '\xFF\xD8\xFF\xE0\x00\x10\x4A\x46\x49\x46\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00\xFF\xC0\x00\x0B\x08\x00\x30\x00\x60\x01\x01\x11\x00'::BLOB || encode(text)
        |  WHEN doc_id % 4 = 2 THEN
        |    '\x52\x49\x46\x46\x00\x00\x00\x00\x57\x41\x56\x45\x4C\x49\x53\x54\x06\x00\x00\x00\x49\x4E\x46\x4F\x61\x62\x66\x6D\x74\x20\x10\x00\x00\x00\x01\x00\x02\x00\x80\xBB\x00\x00\x00\xEE\x02\x00\x04\x00\x10\x00\x64\x61\x74\x61\x00\x00\x00\x00'::BLOB || encode(text)
        |  ELSE encode(text) END AS blob
        | FROM documents),
        |f AS (SELECT blob,
        |  CASE WHEN hex(blob) LIKE '89504E47%' THEN 'png'
        |       WHEN hex(blob) LIKE 'FFD8FF%' THEN 'jpeg'
        |       WHEN hex(blob) LIKE '47494638%' THEN 'gif'
        |       WHEN hex(blob) LIKE '52494646%' THEN 'riff'
        |       WHEN hex(blob) LIKE '424D%' THEN 'bmp'
        |       WHEN hex(blob) LIKE '000000%' THEN 'mp4ish'
        |       ELSE 'unknown' END AS format
        | FROM b)
        |SELECT format, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(octet_length(blob)) AS BIGINT) AS total_bytes,
        | CAST(count(DISTINCT blob) AS BIGINT) AS n_distinct,
        | CAST(CASE WHEN format = 'png' THEN 64 ELSE -1 END AS INT) AS png_w,
        | CAST(CASE WHEN format = 'png' THEN 32 ELSE -1 END AS INT) AS png_h,
        | CAST(CASE WHEN format = 'jpeg' THEN 96 ELSE -1 END AS INT) AS jpg_w,
        | CAST(CASE WHEN format = 'jpeg' THEN 48 ELSE -1 END AS INT) AS jpg_h,
        | CAST(CASE WHEN format = 'riff' THEN 48000 ELSE -1 END AS INT) AS wav_rate,
        | CAST(CASE WHEN format = 'riff' THEN 2 ELSE -1 END AS INT) AS wav_ch,
        | CAST(CASE WHEN format = 'riff' THEN 16 ELSE -1 END AS INT) AS wav_bits
        |FROM f GROUP BY format ORDER BY format""".stripMargin,

    "sim_centroid" ->
      """WITH e AS (SELECT vec_id % 5 AS g, generate_subscripts(embedding, 1) AS pos,
        |  unnest(embedding) AS v FROM embeddings),
        |a AS (SELECT g, pos, avg(v) AS v FROM e GROUP BY 1, 2)
        |SELECT g, CAST(count(*) AS INT) AS dim, round(sqrt(sum(v * v)), 6) AS centroid_norm
        |FROM a GROUP BY g ORDER BY g""".stripMargin,

    // Same symmetric-int8 math over DuckDB lists: scale = 127/max|v|
    // (1.0 for a zero vector), q = round(v*scale), relative L2 error of
    // the round-trip. round() half-away-from-zero in both engines.
    "sim_quantize" ->
      """WITH q AS (SELECT vec_id % 5 AS g, embedding,
        |  CASE WHEN list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) > 0
        |   THEN 127.0 / list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))
        |   ELSE 1.0 END AS scale
        | FROM embeddings),
        |e AS (SELECT g, scale,
        |  list_max(list_transform(embedding, v ->
        |    abs(CAST(round(CAST(v AS DOUBLE) * scale) AS INT)))) AS maxq,
        |  sqrt(list_sum(list_transform(embedding, v ->
        |    pow(CAST(v AS DOUBLE) - CAST(round(CAST(v AS DOUBLE) * scale) AS INT) / scale, 2)))) /
        |  sqrt(list_sum(list_transform(embedding, v ->
        |    CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) AS rel_err
        | FROM q)
        |SELECT g, CAST(max(maxq) AS INT) AS max_abs_q,
        | round(avg(scale), 6) AS avg_scale,
        | round(avg(rel_err), 6) AS avg_rel_err
        |FROM e GROUP BY g ORDER BY g""".stripMargin,

    "sim_knn" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT qid, vec_id, cos, CAST(rank AS INT) AS rank FROM (
        | SELECT q.qid, c.vec_id,
        |  round(list_cosine_similarity(c.v, q.qv), 4) AS cos,
        |  row_number() OVER (PARTITION BY q.qid
        |    ORDER BY round(list_cosine_similarity(c.v, q.qv), 4) DESC, c.vec_id) AS rank
        | FROM c, q WHERE c.vec_id != q.qid)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // The exact AllPairs ground truth the engine must reproduce; the
    // booleans are the engine-side recall/false-positive verdicts.
    "dedup_minhash" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 5, 0) + 1),
        |    i -> substr(text, i + 1, 5))) AS s
        | FROM documents WHERE doc_id < 1000),
        |p AS (
        | SELECT count(*) AS n
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  AND 100 * least(len(a.s), len(b.s)) >= 51 * greatest(len(a.s), len(b.s))
        | WHERE 100 * len(list_intersect(a.s, b.s)) >=
        |   51 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))))
        |SELECT CAST(n AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_false,
        | true AS recall_ok FROM p""".stripMargin,

    // The exact batch×corpus cross-Jaccard ground truth the incremental
    // index path must reproduce (string shingles; the engine's 64-bit
    // hashed shingles agree up to negligible collisions).
    "dedup_incr_near" ->
      """WITH b AS (
        | SELECT doc_id, text FROM documents WHERE doc_id < 300 AND doc_id % 3 = 0
        | UNION ALL
        | SELECT doc_id + 100000, text || ' planted copy' FROM documents
        | WHERE doc_id < 300 AND doc_id % 3 != 0 AND doc_id % 10 = 1),
        |shc AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 5, 0) + 1),
        |    i -> substr(text, i + 1, 5))) AS s
        | FROM documents WHERE doc_id < 300 AND doc_id % 3 != 0),
        |shb AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 5, 0) + 1),
        |    i -> substr(text, i + 1, 5))) AS s
        | FROM b),
        |p AS (
        | SELECT count(*) AS n
        | FROM shb b JOIN shc c
        |  ON 100 * least(len(b.s), len(c.s)) >= 51 * greatest(len(b.s), len(c.s))
        | WHERE 100 * len(list_intersect(b.s, c.s)) >=
        |   51 * (len(b.s) + len(c.s) - len(list_intersect(b.s, c.s))))
        |SELECT CAST(n AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_false,
        | true AS recall_ok FROM p""".stripMargin,

    // Input-construction counts recomputed from the same slice/mod rules;
    // the drop/parity verdicts are the engine's booleans.
    "dedup_stream_ingest" ->
      """WITH d AS (SELECT doc_id FROM documents
        |  WHERE doc_id < 900 AND text IS NOT NULL AND trim(text) != '')
        |SELECT CAST((SELECT count(*) FROM d)
        |   + (SELECT count(*) FROM d WHERE doc_id % 3 = 0 AND doc_id % 5 = 0)
        |   + (SELECT count(*) FROM d WHERE doc_id % 3 = 2 AND doc_id % 5 = 2)
        |   AS BIGINT) AS n_input,
        | CAST((SELECT count(*) FROM d WHERE doc_id % 3 = 0 AND doc_id % 5 = 0)
        |   AS BIGINT) AS n_cross_planted,
        | CAST((SELECT count(*) FROM d WHERE doc_id % 3 = 2 AND doc_id % 5 = 2)
        |   AS BIGINT) AS n_within_planted,
        | true AS cross_dropped_ok, true AS within_dropped_ok, true AS parity_ok,
        | CAST(3 AS BIGINT) AS n_stream_batches""".stripMargin,

    "dedup_simhash" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents
        |  WHERE doc_id < 300 AND doc_id % 50 = 0) AS n_planted,
        | true AS banding_exact_ok, true AS planted_found_ok""".stripMargin,

    "dedup_embed" ->
      """WITH aug AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | WHERE vec_id < 1000
        | UNION ALL
        | SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
        | WHERE vec_id < 1000 AND vec_id % 100 < 2),
        |p AS (SELECT count(*) AS n
        | FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(a.v, b.v) >= 0.99)
        |SELECT CAST(n AS BIGINT) AS n_exact, CAST(0 AS BIGINT) AS n_false,
        | true AS recall_ok FROM p""".stripMargin,

    // Exact pair graph over the same planted-clone corpus → recursive
    // transitive closure → keep min id per component: the DuckDB twin of
    // the engine's exact composition path.
    "dedup_semantic" ->
      """WITH RECURSIVE aug AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | WHERE vec_id < 1000
        | UNION ALL
        | SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
        | WHERE vec_id < 1000 AND vec_id % 100 < 2),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        | FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(a.v, b.v) >= 0.99),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        | SELECT src, src FROM edges
        | UNION
        | SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |kept AS (SELECT vec_id FROM aug
        | WHERE vec_id NOT IN (SELECT id FROM comp WHERE id != component))
        |SELECT CAST(count(*) AS BIGINT) AS n_kept,
        | CAST(sum(vec_id) AS BIGINT) AS kept_id_sum,
        | true AS ann_matches_exact FROM kept""".stripMargin,

    "sim_ivf" ->
      """WITH aug AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | UNION ALL
        | SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
        | WHERE vec_id < 5),
        |q AS (SELECT vec_id AS qid, v AS qv FROM aug WHERE qid < 5),
        |r AS (SELECT q.qid, aug.vec_id,
        |  round(list_cosine_similarity(aug.v, q.qv), 4) AS cos,
        |  row_number() OVER (PARTITION BY q.qid
        |    ORDER BY round(list_cosine_similarity(aug.v, q.qv), 4) DESC, aug.vec_id) AS rank
        | FROM aug, q WHERE aug.vec_id != q.qid)
        |SELECT CAST(count(*) AS BIGINT) AS n_bf, min(cos) AS bf_min_cos,
        | (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 5) AS n_queries,
        | true AS clones_found_ok, true AS recall_ok
        |FROM r WHERE rank <= 5""".stripMargin,

    // brute-force anchors recomputed from raw vectors; the nested-probe
    // monotonicity and all-cells-equals-brute-force verdicts must hold
    // in-row at every sweep point
    "sim_ivf_sweep" ->
      """WITH aug AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | UNION ALL
        | SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
        | WHERE vec_id < 5),
        |q AS (SELECT vec_id AS qid, v AS qv FROM aug WHERE qid < 5),
        |r AS (SELECT q.qid, aug.vec_id,
        |  row_number() OVER (PARTITION BY q.qid
        |    ORDER BY round(list_cosine_similarity(aug.v, q.qv), 4) DESC,
        |      aug.vec_id) AS rank
        | FROM aug, q WHERE aug.vec_id != q.qid)
        |SELECT p.nprobe,
        | (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 5)
        |   AS n_queries,
        | (SELECT CAST(count(*) AS BIGINT) FROM r WHERE rank <= 5) AS n_bf,
        | true AS monotone_ok, true AS full_recall_ok
        |FROM (SELECT unnest([1, 4, 16]) AS nprobe) p
        |ORDER BY nprobe""".stripMargin,

    // the global keep-min-id duplicate set is brute-force-recomputed in
    // SQL; the cell-screen verdicts (clones dropped, zero false drops,
    // >=90% recall) must hold in-row
    "sim_semdedup" ->
      """WITH aug AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | UNION ALL
        | SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
        | WHERE vec_id < 10),
        |g AS (SELECT DISTINCT b.vec_id
        | FROM aug a, aug b WHERE a.vec_id < b.vec_id
        |   AND round(list_cosine_similarity(a.v, b.v), 4) >= 0.995)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM aug) AS n_in,
        | CAST(count(*) AS BIGINT) AS n_gdup,
        | true AS clones_dropped_ok, true AS no_false_drop_ok,
        | true AS recall_ok
        |FROM g""".stripMargin,

    // brute-force anchors recomputed from raw vectors; the PQ verdicts
    // (clone-at-rank-1, reconstruction quality) must hold in-row
    "sim_pq" ->
      """WITH aug AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | UNION ALL
        | SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
        | WHERE vec_id < 5),
        |q AS (SELECT vec_id AS qid, v AS qv FROM aug WHERE qid < 5),
        |r AS (SELECT q.qid, aug.vec_id,
        |  round(list_cosine_similarity(aug.v, q.qv), 4) AS cos,
        |  row_number() OVER (PARTITION BY q.qid
        |    ORDER BY round(list_cosine_similarity(aug.v, q.qv), 4) DESC, aug.vec_id) AS rank
        | FROM aug, q WHERE aug.vec_id != q.qid)
        |SELECT CAST(count(*) AS BIGINT) AS n_bf, min(cos) AS bf_min_cos,
        | (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 5) AS n_queries,
        | true AS clones_rank1_ok, true AS recon_ok
        |FROM r WHERE rank <= 5""".stripMargin,

    // brute-force anchors recomputed from raw vectors; the IVFADC
    // verdicts (clone-at-rank-1, probed-cell pruning) must hold in-row
    "sim_ivfpq" ->
      """WITH aug AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        | UNION ALL
        | SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
        | WHERE vec_id < 5),
        |q AS (SELECT vec_id AS qid, v AS qv FROM aug WHERE qid < 5),
        |r AS (SELECT q.qid, aug.vec_id,
        |  round(list_cosine_similarity(aug.v, q.qv), 4) AS cos,
        |  row_number() OVER (PARTITION BY q.qid
        |    ORDER BY round(list_cosine_similarity(aug.v, q.qv), 4) DESC, aug.vec_id) AS rank
        | FROM aug, q WHERE aug.vec_id != q.qid)
        |SELECT CAST(count(*) AS BIGINT) AS n_bf, min(cos) AS bf_min_cos,
        | (SELECT CAST(count(*) AS BIGINT) FROM embeddings WHERE vec_id < 5) AS n_queries,
        | (SELECT CAST(count(*) AS BIGINT) FROM aug) AS n_corpus,
        | true AS clones_rank1_ok, true AS pruning_ok
        |FROM r WHERE rank <= 5""".stripMargin,

    // counts are data-derived anchors; the clone/span/round-trip
    // verdicts are the engine's own booleans, which must all read true
    "sim_ivfpq_append" ->
      """SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_corpus,
        | CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_batch,
        | CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        | true AS clones_rank1_ok, true AS spans_corpus_ok,
        | true AS corpus_preserved_ok""".stripMargin,

    "sim_ann" ->
      """WITH aug AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 500
        | UNION ALL
        | SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings
        | WHERE vec_id < 500 AND vec_id % 100 < 2),
        |r AS (SELECT q.vec_id AS qid, c.vec_id,
        |  round(list_cosine_similarity(c.v, q.v), 4) AS cos,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY round(list_cosine_similarity(c.v, q.v), 4) DESC, c.vec_id) AS rank
        | FROM aug c, aug q WHERE c.vec_id != q.vec_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_bf, min(cos) AS bf_min_cos,
        | (SELECT CAST(count(*) AS BIGINT) FROM embeddings
        |   WHERE vec_id < 500 AND vec_id % 100 < 2) AS n_planted,
        | true AS partner_recall_ok
        |FROM r WHERE rank <= 3""".stripMargin,

    // Same pixel rule the fixture encodes: pixel i = (doc_id*31+i*7)%256
    // over a 16x8 grayscale image — the oracle never touches PNG bytes;
    // the engine must reproduce these numbers from a real decode.
    "mm_audio_quality" ->
      """WITH w AS (SELECT doc_id,
        |    list_transform(range(0, 160 + (doc_id % 8) * 16),
        |      i -> ((doc_id*31 + i*7) % 4096) - 2048) AS s
        |   FROM documents WHERE doc_id < 50),
        |q AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_samples,
        |    CAST(len(list_filter(s, v -> v >= 2000 OR v <= -2000)) AS BIGINT)
        |      AS n_clipped,
        |    CAST(len(s)//64 AS BIGINT) AS n_frames,
        |    CAST(len(list_filter(range(0, len(s)//64), f ->
        |      list_sum(list_transform(range(f*64, f*64 + 64),
        |        i -> s[i+1]*s[i+1])) < 80000000)) AS BIGINT) AS n_silent
        |   FROM w)
        |SELECT doc_id, n_samples, n_clipped, n_frames, n_silent,
        | round(n_clipped*1.0/n_samples, 6) AS clip_share
        |FROM q ORDER BY doc_id""".stripMargin,

    "mm_sharpness" ->
      """WITH l AS (SELECT doc_id, flatten(list_transform(range(1, 7), y ->
        |    list_transform(range(1, 15), x ->
        |      4*((doc_id*31 + (y*16+x)*7) % 256)
        |      - ((doc_id*31 + (y*16+x-1)*7) % 256)
        |      - ((doc_id*31 + (y*16+x+1)*7) % 256)
        |      - ((doc_id*31 + ((y-1)*16+x)*7) % 256)
        |      - ((doc_id*31 + ((y+1)*16+x)*7) % 256)))) AS vs
        | FROM documents WHERE doc_id < 50),
        |m AS (SELECT doc_id, CAST(len(vs) AS BIGINT) AS n_interior,
        |       CAST(list_sum(vs) AS BIGINT) AS lap_sum,
        |       CAST(list_sum(list_transform(vs, v -> v*v)) AS BIGINT)
        |         AS lap_sumsq FROM l)
        |SELECT doc_id, n_interior, lap_sum, lap_sumsq,
        | round(lap_sumsq*1.0/n_interior
        |   - (lap_sum*1.0/n_interior)*(lap_sum*1.0/n_interior), 6) AS lap_var
        |FROM m ORDER BY doc_id""".stripMargin,

    "mm_decode" ->
      """WITH px AS (SELECT doc_id,
        |  list_transform(range(0, 128), i -> (doc_id*31 + i*7) % 256) AS p,
        |  list_transform(range(0, 160 + (doc_id % 8) * 16),
        |                 i -> ((doc_id*31 + i*7) % 4096) - 2048) AS w,
        |  list_transform(range(0, 6), k -> (doc_id*31 + k*7) % 256) AS j
        | FROM documents WHERE doc_id < 50)
        |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        | CAST(128 AS BIGINT) AS n_px, CAST(list_sum(p) AS BIGINT) AS px_sum,
        | CAST(list_min(p) AS BIGINT) AS px_min, CAST(list_max(p) AS BIGINT) AS px_max,
        | CAST(8000 AS BIGINT) AS wav_rate,
        | CAST(len(w) AS BIGINT) AS wav_n, CAST(list_sum(w) AS BIGINT) AS wav_sum,
        | CAST(list_min(w) AS BIGINT) AS wav_min, CAST(list_max(w) AS BIGINT) AS wav_max,
        | CAST(list_sum(list_transform(w, v -> v*v)) AS BIGINT) AS wav_sumsq,
        | CAST(24 AS BIGINT) AS jpg_w, CAST(16 AS BIGINT) AS jpg_h,
        | CAST(384 AS BIGINT) AS jpg_n, CAST(64 * list_sum(j) AS BIGINT) AS jpg_sum,
        | CAST(list_min(j) AS BIGINT) AS jpg_min, CAST(list_max(j) AS BIGINT) AS jpg_max
        |FROM px ORDER BY doc_id""".stripMargin,

    "mm_color" ->
      """WITH p AS (SELECT doc_id,
        |  list_transform(range(0, 6), k -> GREATEST(0, LEAST(255,
        |    FLOOR(((doc_id*31 + k*7) % 256)
        |          + 1.402*(((doc_id*23 + k*13) % 256) - 128) + 0.5)))) AS rv,
        |  list_transform(range(0, 6), k -> GREATEST(0, LEAST(255,
        |    FLOOR(((doc_id*31 + k*7) % 256)
        |          - 0.344136*(((doc_id*17 + k*11) % 256) - 128)
        |          - 0.714136*(((doc_id*23 + k*13) % 256) - 128) + 0.5)))) AS gv,
        |  list_transform(range(0, 6), k -> GREATEST(0, LEAST(255,
        |    FLOOR(((doc_id*31 + k*7) % 256)
        |          + 1.772*(((doc_id*17 + k*11) % 256) - 128) + 0.5)))) AS bv
        | FROM documents WHERE doc_id < 50)
        |SELECT doc_id, CAST(24 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        | CAST(1152 AS BIGINT) AS n_px,
        | CAST(64*list_sum(rv) AS BIGINT) AS r_sum,
        | CAST(64*list_sum(gv) AS BIGINT) AS g_sum,
        | CAST(64*list_sum(bv) AS BIGINT) AS b_sum
        |FROM p ORDER BY doc_id""".stripMargin,

    // Subsampled variants of the mm_color protocol. 4:2:0: 32×32, luma
    // blocks on a 4×4 grid, chroma block j = ((k//4)//2)*2 + (k%4)//2
    // (each chroma block serves a 2×2 luma neighborhood via replication
    // upsampling). 4:2:2: 32×16, luma 4×2, j = (k//4)*2 + (k%4)//2
    // (horizontal-only subsampling). Constant blocks + replication keep
    // every pixel of a luma block one exact (Y, Cb, Cr) triple.
    "mm_subsample" ->
      """WITH p AS (SELECT doc_id,
        |  list_transform(range(0, 16), k -> GREATEST(0, LEAST(255,
        |    FLOOR(((doc_id*31 + k*7) % 256)
        |      + 1.402*(((doc_id*23 + (((k//4)//2)*2 + (k%4)//2)*13) % 256) - 128) + 0.5)))) AS r0,
        |  list_transform(range(0, 16), k -> GREATEST(0, LEAST(255,
        |    FLOOR(((doc_id*31 + k*7) % 256)
        |      - 0.344136*(((doc_id*17 + (((k//4)//2)*2 + (k%4)//2)*11) % 256) - 128)
        |      - 0.714136*(((doc_id*23 + (((k//4)//2)*2 + (k%4)//2)*13) % 256) - 128) + 0.5)))) AS g0,
        |  list_transform(range(0, 16), k -> GREATEST(0, LEAST(255,
        |    FLOOR(((doc_id*31 + k*7) % 256)
        |      + 1.772*(((doc_id*17 + (((k//4)//2)*2 + (k%4)//2)*11) % 256) - 128) + 0.5)))) AS b0,
        |  list_transform(range(0, 8), k -> GREATEST(0, LEAST(255,
        |    FLOOR(((doc_id*31 + k*7) % 256)
        |      + 1.402*(((doc_id*23 + ((k//4)*2 + (k%4)//2)*13) % 256) - 128) + 0.5)))) AS r2,
        |  list_transform(range(0, 8), k -> GREATEST(0, LEAST(255,
        |    FLOOR(((doc_id*31 + k*7) % 256)
        |      - 0.344136*(((doc_id*17 + ((k//4)*2 + (k%4)//2)*11) % 256) - 128)
        |      - 0.714136*(((doc_id*23 + ((k//4)*2 + (k%4)//2)*13) % 256) - 128) + 0.5)))) AS g2,
        |  list_transform(range(0, 8), k -> GREATEST(0, LEAST(255,
        |    FLOOR(((doc_id*31 + k*7) % 256)
        |      + 1.772*(((doc_id*17 + ((k//4)*2 + (k%4)//2)*11) % 256) - 128) + 0.5)))) AS b2
        | FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        | CAST(32 AS BIGINT) AS w420, CAST(32 AS BIGINT) AS h420,
        | CAST(3072 AS BIGINT) AS n420,
        | CAST(64*list_sum(r0) AS BIGINT) AS r420,
        | CAST(64*list_sum(g0) AS BIGINT) AS g420,
        | CAST(64*list_sum(b0) AS BIGINT) AS b420,
        | CAST(32 AS BIGINT) AS w422, CAST(16 AS BIGINT) AS h422,
        | CAST(1536 AS BIGINT) AS n422,
        | CAST(64*list_sum(r2) AS BIGINT) AS r422,
        | CAST(64*list_sum(g2) AS BIGINT) AS g422,
        | CAST(64*list_sum(b2) AS BIGINT) AS b422
        |FROM p ORDER BY doc_id""".stripMargin,

    // planted counts are data-derived; the recall/FP verdicts are the
    // engine's own booleans, which must all read true
    "mm_phash" ->
      """SELECT CAST(count(*)
        |   + sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_images,
        | CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_jpeg_planted,
        | CAST(sum(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resize_planted,
        | true AS jpeg_recall_ok, true AS resize_recall_ok,
        | true AS zero_fp_ok, true AS all_decoded_ok
        |FROM documents WHERE doc_id < 40""".stripMargin,

    "sim_project" ->
      """WITH sg AS (SELECT [[-1,1,-1,-1,1,1,-1,1,-1,-1,-1,1,-1,-1,-1,1,1,-1,1,-1,-1,1,-1,1,1,-1,-1,1,-1,-1,-1,1,-1,1,1,-1,1,-1,1,1,-1,-1,1,1,1,-1,-1,1,-1,-1,-1,-1,-1,1,-1,-1,1,1,1,-1,-1,1,1,-1], [-1,1,1,-1,-1,-1,1,-1,-1,1,1,1,1,1,-1,-1,1,-1,-1,1,1,1,-1,1,-1,-1,1,-1,1,-1,1,-1,1,1,1,1,1,-1,1,-1,-1,-1,-1,1,-1,1,-1,-1,-1,-1,-1,-1,-1,1,-1,1,-1,-1,-1,-1,1,-1,1,-1], [-1,-1,1,1,1,1,-1,1,1,-1,1,-1,1,1,1,-1,-1,-1,-1,-1,1,1,1,-1,1,-1,-1,1,-1,1,1,1,1,1,-1,1,1,1,1,-1,1,1,1,1,-1,1,1,1,-1,1,-1,1,1,1,1,-1,1,1,1,-1,1,1,1,-1], [1,-1,1,-1,1,1,1,-1,1,-1,1,-1,-1,-1,-1,1,1,1,1,-1,1,-1,-1,-1,-1,-1,-1,-1,-1,1,1,-1,1,1,1,1,-1,1,-1,-1,-1,1,1,1,-1,1,1,-1,1,-1,-1,-1,1,1,1,1,-1,-1,-1,-1,-1,-1,-1,1], [1,-1,-1,-1,-1,1,1,1,1,-1,-1,-1,-1,1,1,-1,-1,-1,1,-1,-1,-1,1,1,1,-1,1,-1,1,-1,1,-1,-1,-1,1,-1,-1,-1,1,-1,-1,-1,1,1,1,1,-1,-1,-1,-1,1,1,1,-1,1,-1,-1,-1,-1,-1,1,-1,-1,1], [-1,-1,-1,-1,1,-1,1,-1,-1,1,1,1,-1,-1,-1,1,1,1,-1,-1,1,-1,-1,1,1,-1,1,1,-1,1,-1,-1,1,-1,-1,1,-1,1,-1,1,1,-1,1,1,1,1,1,1,1,1,-1,1,-1,-1,1,1,-1,-1,1,-1,1,-1,1,-1], [1,1,-1,1,-1,-1,-1,-1,1,1,-1,-1,1,1,1,-1,1,-1,1,-1,1,-1,1,-1,-1,-1,-1,1,1,-1,-1,-1,-1,1,-1,-1,-1,-1,-1,-1,1,-1,-1,-1,1,1,-1,1,-1,-1,1,-1,1,-1,1,-1,-1,-1,-1,1,-1,1,1,-1], [1,1,1,-1,-1,-1,-1,1,1,1,1,1,1,1,1,-1,-1,1,1,1,-1,-1,-1,-1,-1,-1,1,-1,1,-1,1,-1,1,-1,-1,-1,1,1,-1,1,-1,1,-1,1,-1,1,-1,1,1,-1,1,1,1,-1,-1,-1,-1,-1,-1,-1,-1,-1,1,1], [-1,-1,-1,1,1,1,1,-1,1,-1,-1,1,-1,1,-1,1,1,1,1,1,1,-1,-1,1,-1,-1,1,1,-1,-1,-1,-1,1,1,-1,1,1,-1,1,-1,-1,1,1,-1,-1,1,-1,-1,1,1,1,-1,1,1,-1,-1,-1,1,-1,-1,-1,-1,-1,1], [-1,1,-1,-1,1,-1,-1,1,1,-1,-1,1,1,-1,1,1,1,1,1,1,1,1,-1,1,-1,1,1,-1,1,-1,1,1,-1,1,1,1,1,1,-1,1,-1,1,-1,-1,-1,-1,1,-1,1,1,1,-1,-1,1,-1,-1,-1,-1,-1,-1,-1,1,-1,-1], [-1,-1,-1,1,1,-1,-1,1,-1,1,1,1,-1,1,-1,-1,1,1,-1,1,-1,1,-1,1,-1,1,-1,1,1,-1,1,-1,-1,1,1,-1,1,-1,1,-1,-1,-1,1,1,1,-1,-1,1,1,-1,1,-1,-1,-1,-1,-1,-1,1,-1,1,1,1,1,-1], [-1,1,1,-1,-1,1,-1,-1,-1,1,1,-1,-1,1,1,-1,1,1,-1,1,-1,-1,-1,-1,1,-1,-1,-1,1,-1,-1,-1,1,1,-1,-1,-1,-1,-1,-1,-1,-1,1,1,1,1,1,1,1,1,-1,1,1,1,-1,-1,-1,1,-1,1,1,1,1,1], [-1,1,1,1,1,-1,-1,-1,-1,-1,-1,-1,-1,1,1,1,1,-1,1,1,-1,1,-1,-1,-1,1,-1,-1,-1,-1,1,-1,1,1,1,-1,1,1,-1,1,1,1,-1,1,1,-1,-1,1,1,-1,1,-1,-1,-1,-1,-1,1,-1,1,1,1,1,-1,1], [-1,1,-1,1,1,1,1,1,-1,1,-1,-1,1,1,-1,-1,-1,-1,-1,-1,-1,-1,1,1,1,1,1,1,-1,1,-1,-1,-1,-1,1,-1,1,-1,-1,-1,-1,1,1,-1,-1,1,1,-1,1,1,1,1,-1,1,1,-1,-1,-1,1,-1,1,-1,-1,1], [-1,-1,-1,-1,-1,-1,-1,-1,1,-1,1,-1,1,1,1,-1,-1,-1,1,1,1,-1,1,1,1,1,-1,-1,1,-1,-1,-1,1,1,-1,-1,1,1,-1,-1,1,1,-1,1,1,1,1,-1,-1,-1,1,1,-1,-1,1,1,1,1,-1,-1,-1,1,1,1], [1,1,1,-1,1,-1,1,1,1,-1,1,1,-1,-1,-1,-1,-1,-1,-1,1,1,-1,-1,-1,1,1,-1,1,1,1,1,-1,1,-1,-1,1,-1,1,1,1,-1,1,1,1,1,-1,1,-1,-1,-1,1,-1,-1,-1,1,-1,1,-1,-1,-1,1,1,1,-1]] AS m),
        |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
        |p AS (SELECT vec_id, embedding,
        |  list_transform(range(1, 17), j ->
        |    list_sum(list_transform(range(1, len(embedding) + 1), i ->
        |      CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |      * m[CAST(j AS INT)][CAST(i AS INT)])) / sqrt(16.0)) AS proj
        | FROM e, sg)
        |SELECT vec_id, round(proj[1], 4) AS p0, round(proj[9], 4) AS p8,
        | round(sqrt(list_sum(list_transform(proj, x -> x*x))) /
        |   sqrt(list_sum(list_transform(embedding,
        |     x -> CAST(x AS DOUBLE) * x))), 4) AS norm_ratio
        |FROM p ORDER BY vec_id""".stripMargin,

    "mm_phash_incr" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_index,
        | CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN doc_id < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch,
        | CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_planted,
        | true AS recall_ok, true AS zero_fp_ok, true AS fresh_clean_ok
        |FROM documents WHERE doc_id < 30""".stripMargin,

    // frame counts derive from the fixture arity rule (5 + id mod 3
    // frames, trimmed copies drop one); recall/FP verdicts are the
    // engine's own booleans, which must all read true
    // every decoded pixel recomputed arithmetically: frame f of id has
    // pixel i = (id*31 + f*97 + i*7) mod 256, three RGB samples each
    "mm_gif" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 60),
        |fr AS (SELECT id, unnest(range(0, 2 + CAST(id % 3 AS INT))) AS f FROM ids),
        |px AS (SELECT id, f, unnest(range(0, 128)) AS i FROM fr),
        |v AS (SELECT ((id*31 + f*97 + i*7) % 256 + 256) % 256 AS v FROM px)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ids) AS n_gifs,
        | (SELECT CAST(count(*) AS BIGINT) FROM fr) AS frames_total,
        | CAST(3 * count(*) AS BIGINT) AS samples_total,
        | CAST(3 * sum(v) AS BIGINT) AS rgb_sum,
        | CAST(min(v) AS BIGINT) AS sample_min, CAST(max(v) AS BIGINT) AS sample_max,
        | true AS all_decoded_ok
        |FROM v""".stripMargin,

    "mm_avi" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id < 40),
        |fr AS (SELECT id, unnest(range(0, 6)) AS f FROM ids),
        |bl AS (SELECT id, f, unnest(range(0, 8)) AS k FROM fr),
        |v AS (SELECT (((id*1000 + f)*31 + k*7) % 256 + 256) % 256 AS v FROM bl)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ids) AS n_avis,
        | (SELECT CAST(count(*) AS BIGINT) FROM fr) AS frames_total,
        | CAST(64 * count(*) AS BIGINT) AS samples_total,
        | CAST(64 * sum(v) AS BIGINT) AS px_sum,
        | true AS geometry_ok, true AS fps_ok, true AS all_decoded_ok
        |FROM v""".stripMargin,

    "mm_video_dedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_videos,
        | CAST(sum(5 + doc_id % 3)
        |   + sum(CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 0 END) AS BIGINT) AS n_frames,
        | CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
        | true AS trimmed_recall_ok, true AS zero_fp_ok, true AS all_decoded_ok
        |FROM documents WHERE doc_id < 30""".stripMargin,

    // planted counts are data-derived; the recall/FP verdicts are the
    // engine's own booleans, which must all read true
    "dedup_audio" ->
      """SELECT CAST(count(*)
        |   + sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clips,
        | CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vol_planted,
        | CAST(sum(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rq_planted,
        | true AS vol_recall_ok, true AS rq_recall_ok,
        | true AS zero_fp_ok, true AS all_fingerprinted_ok
        |FROM documents WHERE doc_id < 40""".stripMargin,

    // bilinear 2x downscale of the 16x8 rule image: output (x,y) is the
    // round-half-up mean of the 2x2 source block (half-pixel centers make
    // every tap weigh exactly 1/4); nearest 24x12 upscale: source index
    // is ((2*dst+1)*src_dim) // (2*dst_dim) — both reproducible exactly
    "mm_resize" ->
      """WITH px AS (SELECT doc_id,
        |  list_transform(range(0, 32), o -> FLOOR((
        |      ((doc_id*31 + ((o//8)*2*16 + (o%8)*2)*7) % 256)
        |    + ((doc_id*31 + ((o//8)*2*16 + (o%8)*2 + 1)*7) % 256)
        |    + ((doc_id*31 + (((o//8)*2 + 1)*16 + (o%8)*2)*7) % 256)
        |    + ((doc_id*31 + (((o//8)*2 + 1)*16 + (o%8)*2 + 1)*7) % 256)) / 4.0
        |    + 0.5)) AS bi,
        |  list_transform(range(0, 288), o ->
        |    (doc_id*31 + ((((2*(o//24) + 1)*8) // 24)*16
        |                  + (((2*(o%24) + 1)*16) // 48))*7) % 256) AS nn
        | FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        | CAST(8 AS BIGINT) AS bi_w, CAST(4 AS BIGINT) AS bi_h,
        | CAST(list_sum(bi) AS BIGINT) AS bi_sum,
        | CAST(list_min(bi) AS BIGINT) AS bi_min,
        | CAST(list_max(bi) AS BIGINT) AS bi_max,
        | CAST(24 AS BIGINT) AS nn_w, CAST(12 AS BIGINT) AS nn_h,
        | CAST(list_sum(nn) AS BIGINT) AS nn_sum,
        | CAST(list_min(nn) AS BIGINT) AS nn_min,
        | CAST(list_max(nn) AS BIGINT) AS nn_max
        |FROM px ORDER BY doc_id""".stripMargin,

    // frame f of doc d holds 8x4 pixels (d*31 + f*97 + i*7) % 256 over
    // 4 + d%3 frames; sampling keeps even frame positions
    "mm_frames" ->
      """WITH f AS (SELECT doc_id, 4 + doc_id % 3 AS nf
        |  FROM documents WHERE doc_id < 50),
        |s AS (SELECT doc_id, nf,
        |  list_filter(range(0, nf), p -> p % 2 = 0) AS ps FROM f)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        | CAST(len(ps) AS BIGINT) AS n_sampled,
        | CAST(list_sum(list_transform(ps, p -> list_sum(list_transform(range(0, 32),
        |   i -> (doc_id*31 + p*97 + i*7) % 256)))) AS BIGINT) AS px_sum,
        | CAST(list_min(list_transform(ps, p -> list_min(list_transform(range(0, 32),
        |   i -> (doc_id*31 + p*97 + i*7) % 256)))) AS BIGINT) AS px_min,
        | CAST(list_max(list_transform(ps, p -> list_max(list_transform(range(0, 32),
        |   i -> (doc_id*31 + p*97 + i*7) % 256)))) AS BIGINT) AS px_max
        |FROM s ORDER BY doc_id""".stripMargin,

    // sample i = ((doc_id*31 + i*7) % 4096) - 2048 over n samples;
    // zero crossings pair adjacent samples, energies are per-64-sample
    // frame sums of squares (full frames only) — all integer math
    // spec_total rides Parseval: frameLen · Σx² over the FULL frames —
    // recomputed here from the sample rule with no FFT at all
    "mm_audio" ->
      """WITH w AS (SELECT doc_id, 160 + (doc_id % 8) * 16 AS n,
        |  list_transform(range(0, 160 + (doc_id % 8) * 16),
        |                 i -> ((doc_id*31 + i*7) % 4096) - 2048) AS s
        | FROM documents WHERE doc_id < 50),
        |e AS (SELECT doc_id, n // 64 AS nf,
        |  list_transform(range(1, n),
        |    i -> CASE WHEN (s[i] < 0) <> (s[i+1] < 0) THEN 1 ELSE 0 END) AS zc1,
        |  list_transform(range(0, n // 64), f -> list_sum(list_transform(range(0, 64),
        |    j -> s[f*64 + j + 1] * s[f*64 + j + 1]))) AS fe
        | FROM w)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        | CAST(list_sum(zc1) AS BIGINT) AS zero_crossings,
        | CAST(list_max(fe) AS BIGINT) AS energy_max,
        | CAST(list_min(fe) AS BIGINT) AS energy_min,
        | CAST(64 * list_sum(fe) AS BIGINT) AS spec_total,
        | CAST(3 + doc_id % 8 AS BIGINT) AS tone_peak_bin,
        | true AS tone_dominant_ok
        |FROM e ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_text,
        | true AS content_fp_injective_ok,
        | true AS mingram_consistent_ok FROM documents""".stripMargin,

    // The same interpolation restated: λ·cb/c(prev) + (1−λ)·c(w)/N with
    // floor-count 1 for out-of-table unigrams, per-doc round before the
    // per-source mean (mirroring the engine's scoreDp).
    "text_lm_bigram" ->
      """WITH w AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |toks AS (SELECT doc_id, unnest(w) AS tok FROM w),
        |uni AS (SELECT tok, count(*) AS cu FROM toks GROUP BY tok),
        |vocab AS (SELECT tok, cu FROM uni ORDER BY cu DESC, tok LIMIT 2000),
        |tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS n_total FROM uni),
        |pos AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |        FROM (SELECT doc_id, w,
        |              unnest(generate_series(1, len(w)-1)) AS i FROM w)),
        |bitop AS (SELECT w1, w2, count(*) AS cb FROM pos GROUP BY w1, w2
        |          ORDER BY count(*) DESC, w1, w2 LIMIT 2000),
        |sc AS (SELECT pos.doc_id,
        |        round(avg(ln(0.75 * coalesce(bitop.cb, 0) / coalesce(v1.cu, 1)
        |          + 0.25 * coalesce(v2.cu, 1) / (SELECT n_total FROM tot))), 6)
        |          AS lm2_logprob,
        |        count(*) AS n_bigrams,
        |        sum(CASE WHEN bitop.cb IS NULL THEN 1 ELSE 0 END) AS n_unseen
        |       FROM pos
        |       LEFT JOIN bitop ON pos.w1 = bitop.w1 AND pos.w2 = bitop.w2
        |       LEFT JOIN vocab v1 ON pos.w1 = v1.tok
        |       LEFT JOIN vocab v2 ON pos.w2 = v2.tok
        |       GROUP BY pos.doc_id)
        |SELECT d.source, round(avg(sc.lm2_logprob), 6) AS avg_lm2,
        | CAST(sum(sc.n_unseen) AS BIGINT) AS n_unseen,
        | CAST(sum(sc.n_bigrams) AS BIGINT) AS n_bigrams
        |FROM sc JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // Digest-level restatement of the same derived snapshot B.
    "pipeline_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
        |b0 AS (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 13 <> 0
        |       UNION ALL
        |       SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
        |b AS (SELECT doc_id, md5(text) AS h FROM b0),
        |d AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |       CASE WHEN a.h IS NULL THEN 'added'
        |            WHEN b.h IS NULL THEN 'removed'
        |            WHEN a.h = b.h THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |      FROM a FULL JOIN b ON a.doc_id = b.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM d GROUP BY status ORDER BY status""".stripMargin,

    "pipeline_url" ->
      """WITH raw AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.News.Example.COM'
        |        WHEN doc_id % 3 = 1 THEN 'Shop.Example.CO.UK'
        |        ELSE 'cdn.example.org' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 1 THEN ':443'
        |        WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '/a/B/'
        |        WHEN doc_id % 3 = 1 THEN '/idx' ELSE '' END) ||
        |  (CASE WHEN doc_id % 2 = 0 THEN '?z=2&utm_source=x&a=1'
        |        ELSE '?utm_campaign=c&b=3&fbclid=f' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
        | FROM documents WHERE doc_id < 40),
        |p AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS u FROM raw),
        |x AS (SELECT doc_id,
        |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(lower(regexp_extract(u, '^[^:/?#]+://([^/?#]*)', 1)),
        |                 '^www\.', '') AS host0,
        |  regexp_replace(regexp_extract(u, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
        |                 '/+$', '') AS path0,
        |  array_to_string(list_sort(list_filter(
        |    string_split(regexp_extract(u, '\?([^#]*)', 1), '&'),
        |    q -> q <> '' AND NOT regexp_matches(q, '^(utm_[^=]*|fbclid|gclid|ref)=')
        |  )), '&') AS q
        | FROM p),
        |c AS (SELECT doc_id, scheme || '://' ||
        |  (CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
        |        WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
        |        ELSE host0 END) ||
        |  (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
        |  (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS url_canon
        | FROM x),
        |d AS (SELECT doc_id, url_canon,
        |  string_split(regexp_replace(
        |    regexp_extract(url_canon, '^[^:/?#]+://([^/?#]*)', 1),
        |    ':[0-9]+$', ''), '.') AS hp
        | FROM c)
        |SELECT doc_id, url_canon,
        | CASE WHEN len(hp) <= 2 THEN array_to_string(hp, '.')
        |      WHEN array_to_string(hp[-2:], '.') IN
        |        ('co.uk','org.uk','ac.uk','gov.uk','me.uk','net.uk',
        |         'com.au','net.au','org.au','edu.au','gov.au',
        |         'co.jp','or.jp','ne.jp','ac.jp','go.jp',
        |         'co.kr','or.kr','co.in','net.in','org.in','gen.in',
        |         'com.br','net.br','org.br','com.cn','net.cn','org.cn',
        |         'com.mx','com.tr','com.ar','com.sg','com.hk','com.tw',
        |         'co.za','co.nz','org.nz')
        |      THEN array_to_string(hp[-3:], '.')
        |      ELSE array_to_string(hp[-2:], '.') END AS domain
        |FROM d ORDER BY doc_id""".stripMargin,

    "pipeline_cdc" ->
      """WITH cur AS (SELECT o_orderkey AS id, o_orderstatus AS status,
        |        o_totalprice AS price
        |       FROM orders WHERE o_orderkey < 3000),
        |ch AS (
        | SELECT id, 'U' AS op, 1 AS version, 'U1' AS status,
        |        price + 1000 AS price FROM cur WHERE id % 7 = 0
        | UNION ALL SELECT id, 'U', 3, 'U2', price + 2000
        |  FROM cur WHERE id % 7 = 0 AND id % 5 = 0
        | UNION ALL SELECT id, 'D', 2, NULL, NULL FROM cur WHERE id % 11 = 0
        | UNION ALL SELECT id + 100000, 'I', 1, 'NEW', price
        |  FROM cur WHERE id % 13 = 0),
        |w AS (SELECT *, row_number() OVER
        |       (PARTITION BY id ORDER BY version DESC, op DESC) AS rn FROM ch),
        |latest AS (SELECT * FROM w WHERE rn = 1),
        |nxt AS (SELECT c.* FROM cur c
        |         WHERE c.id NOT IN (SELECT id FROM latest)
        |        UNION ALL SELECT id, status, price FROM latest WHERE op <> 'D')
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(price), 2) AS sum_price,
        | CAST(sum(CASE WHEN status = 'U1' THEN 1 ELSE 0 END) AS BIGINT) AS n_u1,
        | CAST(sum(CASE WHEN status = 'U2' THEN 1 ELSE 0 END) AS BIGINT) AS n_u2,
        | CAST(sum(CASE WHEN id >= 100000 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_inserted,
        | CAST(sum(CASE WHEN id % 11 = 0 AND id < 100000 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_deleted_left
        |FROM nxt""".stripMargin,

    "pipeline_scd2" ->
      """WITH s AS (SELECT o_orderkey % 500 AS ent_id, o_orderkey AS version,
        |        o_orderstatus AS status, o_orderpriority AS priority
        |       FROM orders WHERE o_orderkey % 500 < 20),
        |d AS (SELECT *, status || chr(1) || priority AS dg FROM s),
        |c AS (SELECT *, CASE WHEN lag(dg) OVER
        |        (PARTITION BY ent_id ORDER BY version) IS DISTINCT FROM dg
        |       THEN 1 ELSE 0 END AS chg FROM d),
        |r AS (SELECT *, sum(chg) OVER
        |       (PARTITION BY ent_id ORDER BY version) AS run FROM c),
        |g AS (SELECT ent_id, run, min(version) AS valid_from,
        |       CAST(count(*) AS BIGINT) AS n_versions,
        |       min(status) AS status, min(priority) AS priority
        |      FROM r GROUP BY 1, 2),
        |h AS (SELECT ent_id, valid_from, lead(valid_from) OVER
        |        (PARTITION BY ent_id ORDER BY valid_from) AS valid_to,
        |       n_versions, status, priority FROM g)
        |SELECT ent_id, valid_from, valid_to, n_versions,
        | valid_to IS NULL AS is_current, status, priority
        |FROM h ORDER BY ent_id, valid_from""".stripMargin,

    // Word-level restatement of the hashed-bucket DSIR model: add-one
    // smoothing over the observed joint vocabulary, per-doc summed
    // log-ratio, exact top-quarter cut on (rounded score desc, doc_id).
    "pipeline_dsir" ->
      """WITH tt AS (SELECT unnest(string_split(text,' ')) AS w
        |           FROM documents WHERE lang = 'en'),
        |rt AS (SELECT unnest(string_split(text,' ')) AS w
        |       FROM documents WHERE lang <> 'en'),
        |ct AS (SELECT w, count(*) AS c FROM tt WHERE w <> '' GROUP BY w),
        |cr AS (SELECT w, count(*) AS c FROM rt WHERE w <> '' GROUP BY w),
        |j AS (SELECT coalesce(ct.w, cr.w) AS w, coalesce(ct.c,0) AS ct,
        |             coalesce(cr.c,0) AS cr
        |      FROM ct FULL JOIN cr ON ct.w = cr.w),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM j),
        |wt AS (SELECT w, ln((ct+1.0)/(tot.nt+tot.v)) - ln((cr+1.0)/(tot.nr+tot.v)) AS wgt
        |       FROM j, tot),
        |dt AS (SELECT doc_id, source, unnest(string_split(text,' ')) AS w
        |       FROM documents WHERE lang <> 'en'),
        |sc AS (SELECT doc_id, any_value(source) AS source,
        |        round(sum(wt.wgt), 6) AS dsir_score
        |       FROM dt JOIN wt ON dt.w = wt.w WHERE dt.w <> '' GROUP BY doc_id),
        |k AS (SELECT count(*) // 4 AS k FROM documents WHERE lang <> 'en'),
        |sel AS (SELECT * FROM (SELECT sc.*, row_number()
        |          OVER (ORDER BY dsir_score DESC, doc_id) AS rk FROM sc)
        |        WHERE rk <= (SELECT k FROM k))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
        | round(sum(dsir_score), 4) AS sum_score
        |FROM sel GROUP BY source ORDER BY source""".stripMargin,

    // Full margin restatement: cross cosine table, per-side top-4
    // neighborhood averages, ratio margin, best partner per source.
    // retrieve-then-margin (engine parity, r15): candidates = x's 4-NN
    // in Y; the margin re-ranks the retrieved neighborhood
    "sim_bitext" ->
      """WITH x AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |           WHERE label % 2 = 0),
        |y AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |      WHERE label % 2 = 1),
        |c AS (SELECT x.vec_id AS xid, y.vec_id AS yid,
        |       list_cosine_similarity(x.v, y.v) AS cos FROM x, y),
        |f AS (SELECT xid, yid, cos FROM (
        |        SELECT c.*, row_number() OVER (PARTITION BY xid
        |          ORDER BY round(cos, 6) DESC, yid) AS rk FROM c)
        |      WHERE rk <= 4),
        |fx AS (SELECT xid, avg(cos) AS ax FROM f GROUP BY xid),
        |fy AS (SELECT yid, avg(cos) AS ay FROM (
        |        SELECT c.*, row_number() OVER (PARTITION BY yid
        |          ORDER BY round(cos, 6) DESC, xid) AS rk FROM c)
        |       WHERE rk <= 4 GROUP BY yid),
        |m AS (SELECT f.xid, f.yid, f.cos / ((fx.ax + fy.ay) / 2) AS margin
        |      FROM f JOIN fx USING (xid) JOIN fy USING (yid)),
        |best AS (SELECT * FROM (
        |          SELECT m.*, row_number() OVER (PARTITION BY xid
        |            ORDER BY round(margin, 6) DESC, yid) AS rk FROM m)
        |         WHERE rk = 1 AND round(margin, 6) > 1.0)
        |SELECT xid, yid, round(margin, 4) AS margin
        |FROM best ORDER BY xid""".stripMargin,

    // Structural restatement of the ANN-path anchor: the exact-pair
    // count comes from the same margin CTE as sim_bitext (the id-hash
    // cap never bites at oracle scale); the equality and bound verdicts
    // are structural truths of the engine's construction — nProbe =
    // nLists probes every cell (candidates = the full cross product ⇒
    // bit-equal pairs), and best-margin-per-source emits at most one
    // pair per x.
    "sim_bitext_ann" ->
      """WITH x AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |           WHERE label % 2 = 0),
        |y AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |      WHERE label % 2 = 1),
        |c AS (SELECT x.vec_id AS xid, y.vec_id AS yid,
        |       list_cosine_similarity(x.v, y.v) AS cos FROM x, y),
        |f AS (SELECT xid, yid, cos FROM (
        |        SELECT c.*, row_number() OVER (PARTITION BY xid
        |          ORDER BY round(cos, 6) DESC, yid) AS rk FROM c)
        |      WHERE rk <= 4),
        |fx AS (SELECT xid, avg(cos) AS ax FROM f GROUP BY xid),
        |fy AS (SELECT yid, avg(cos) AS ay FROM (
        |        SELECT c.*, row_number() OVER (PARTITION BY yid
        |          ORDER BY round(cos, 6) DESC, xid) AS rk FROM c)
        |       WHERE rk <= 4 GROUP BY yid),
        |m AS (SELECT f.xid, f.yid, f.cos / ((fx.ax + fy.ay) / 2) AS margin
        |      FROM f JOIN fx USING (xid) JOIN fy USING (yid)),
        |best AS (SELECT * FROM (
        |          SELECT m.*, row_number() OVER (PARTITION BY xid
        |            ORDER BY round(margin, 6) DESC, yid) AS rk FROM m)
        |         WHERE rk = 1 AND round(margin, 6) > 1.0)
        |SELECT count(*) AS n_exact, TRUE AS full_probe_exact_ok,
        | TRUE AS sparse_bounded_ok FROM best""".stripMargin,

    // Structural restatement of the sparse-probe recall anchor: the
    // counts and the production nLists/nProbe formula are recomputed
    // from the data (the id-hash cap never bites at oracle scale);
    // planted-clone candidate survival is a structural truth of the
    // IVF construction (identical vector ⇒ identical cell + rank-1
    // self-probe), so n_hit = n_planted and recall = 1 restate as
    // literals, and best-margin-per-source bounds the sparse output.
    "sim_bitext_recall" ->
      """WITH x AS (SELECT vec_id FROM embeddings WHERE label % 2 = 0),
        |y AS (SELECT vec_id FROM embeddings WHERE label % 2 = 1),
        |p AS (SELECT vec_id FROM x WHERE vec_id % 4 = 0),
        |n AS (SELECT (SELECT count(*) FROM x) AS nx,
        |             (SELECT count(*) FROM y) + (SELECT count(*) FROM p) AS ny,
        |             (SELECT count(*) FROM p) AS np),
        |d AS (SELECT nx, ny, np,
        |       GREATEST(16, CAST(ceil(sqrt(CAST(nx + ny AS DOUBLE))) AS BIGINT))
        |         AS nl FROM n)
        |SELECT CAST(nx AS BIGINT) AS n_x, CAST(ny AS BIGINT) AS n_y,
        | CAST(nl AS BIGINT) AS n_lists,
        | CAST(LEAST(16, GREATEST(4, nl // 8)) AS BIGINT) AS n_probe,
        | CAST(np AS BIGINT) AS n_planted, CAST(np AS BIGINT) AS n_hit,
        | CASE WHEN np > 0 THEN CAST(1.0 AS DOUBLE) END AS planted_recall,
        | TRUE AS planted_recall_ok, TRUE AS sparse_bounded_ok
        |FROM d""".stripMargin,

    // pipeline_dsir's weight model with the Gumbel-perturbed ranking:
    // key = score − ln(−ln(u)), u from the same md5-hex uniform.
    "pipeline_dsir_sample" ->
      s"""WITH tt AS (SELECT unnest(string_split(text,' ')) AS w
        |           FROM documents WHERE lang = 'en'),
        |rt AS (SELECT unnest(string_split(text,' ')) AS w
        |       FROM documents WHERE lang <> 'en'),
        |ct AS (SELECT w, count(*) AS c FROM tt WHERE w <> '' GROUP BY w),
        |cr AS (SELECT w, count(*) AS c FROM rt WHERE w <> '' GROUP BY w),
        |j AS (SELECT coalesce(ct.w, cr.w) AS w, coalesce(ct.c,0) AS ct,
        |             coalesce(cr.c,0) AS cr
        |      FROM ct FULL JOIN cr ON ct.w = cr.w),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM j),
        |wt AS (SELECT w, ln((ct+1.0)/(tot.nt+tot.v)) - ln((cr+1.0)/(tot.nr+tot.v)) AS wgt
        |       FROM j, tot),
        |dt AS (SELECT doc_id, source, unnest(string_split(text,' ')) AS w
        |       FROM documents WHERE lang <> 'en'),
        |sc AS (SELECT doc_id, any_value(source) AS source,
        |        round(sum(wt.wgt), 6) AS dsir_score
        |       FROM dt JOIN wt ON dt.w = wt.w WHERE dt.w <> '' GROUP BY doc_id),
        |k AS (SELECT count(*) // 4 AS k FROM documents WHERE lang <> 'en'),
        |g AS (SELECT sc.*, round(dsir_score - ln(-ln(
        |        (${duckHex("concat('0_', CAST(doc_id AS VARCHAR))", 8)} + 0.5)
        |        / 4294967296.0)), 6) AS gumbel_key FROM sc),
        |sel AS (SELECT * FROM (SELECT g.*, row_number()
        |          OVER (ORDER BY gumbel_key DESC, doc_id) AS rk FROM g)
        |        WHERE rk <= (SELECT k FROM k))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
        | round(sum(dsir_score), 4) AS sum_score
        |FROM sel GROUP BY source ORDER BY source""".stripMargin,

    // sim_knn's oracle shape with the self-exclusion replaced by the
    // label-inequality filter.
    "sim_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS ql
        |           FROM embeddings WHERE vec_id < 5),
        |     c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings)
        |SELECT qid, vec_id, cos, CAST(rank AS INT) AS rank FROM (
        | SELECT q.qid, c.vec_id,
        |  round(list_cosine_similarity(c.v, q.qv), 4) AS cos,
        |  row_number() OVER (PARTITION BY q.qid
        |    ORDER BY round(list_cosine_similarity(c.v, q.qv), 4) DESC, c.vec_id) AS rank
        | FROM c, q WHERE c.label != q.ql)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // Three unrolled PageRank iterations (r0 = 1/n; each round adds the
    // teleport term, edge contributions r/outdeg, and the dangling mass
    // spread uniformly) over the same distinct adjacent-word edge set.
    "graph_pagerank" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |e AS (SELECT DISTINCT w[i] AS src, w[i+1] AS dst
        |      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)
        |      WHERE w[i] <> w[i+1]),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT id, 1.0/nn.n AS r FROM nodes, nn),
        |s1 AS (SELECT coalesce(sum(r),0.0) AS s FROM r0 WHERE id NOT IN (SELECT src FROM deg)),
        |c1 AS (SELECT e.dst AS id, sum(r0.r/deg.outdeg) AS c
        |       FROM e JOIN r0 ON e.src=r0.id JOIN deg ON e.src=deg.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(coalesce(c1.c,0.0)+s1.s/nn.n) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN s1 LEFT JOIN c1 ON nodes.id=c1.id),
        |s2 AS (SELECT coalesce(sum(r),0.0) AS s FROM r1 WHERE id NOT IN (SELECT src FROM deg)),
        |c2 AS (SELECT e.dst AS id, sum(r1.r/deg.outdeg) AS c
        |       FROM e JOIN r1 ON e.src=r1.id JOIN deg ON e.src=deg.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(coalesce(c2.c,0.0)+s2.s/nn.n) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN s2 LEFT JOIN c2 ON nodes.id=c2.id),
        |s3 AS (SELECT coalesce(sum(r),0.0) AS s FROM r2 WHERE id NOT IN (SELECT src FROM deg)),
        |c3 AS (SELECT e.dst AS id, sum(r2.r/deg.outdeg) AS c
        |       FROM e JOIN r2 ON e.src=r2.id JOIN deg ON e.src=deg.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.id, 0.15/nn.n + 0.85*(coalesce(c3.c,0.0)+s3.s/nn.n) AS r
        |       FROM nodes CROSS JOIN nn CROSS JOIN s3 LEFT JOIN c3 ON nodes.id=c3.id)
        |SELECT id AS word, round(r, 6) AS pr FROM r3 ORDER BY word""".stripMargin,

    "graph_reciprocity" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |e AS (SELECT DISTINCT w[i] AS s, w[i+1] AS d
        |      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)
        |      WHERE w[i] <> w[i+1]),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m2
        |      FROM e a JOIN e b ON a.s = b.d AND a.d = b.s),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
        |SELECT n_edges, n_edges - m2 // 2 AS n_dyads, m2 // 2 AS n_mutual,
        | n_edges - m2 AS n_asym,
        | CASE WHEN n_edges > 0
        |      THEN round(CAST(m2 AS DOUBLE) / n_edges, 6) END
        |   AS reciprocity
        |FROM t, m""".stripMargin,

    "graph_ppr" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |e AS (SELECT DISTINCT w[i] AS src, w[i+1] AS dst
        |      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)
        |      WHERE w[i] <> w[i+1]),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |sd AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM nodes
        |       WHERE id IN ('join', 'scan')),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src),
        |m0 AS (SELECT id, CASE WHEN id IN ('join', 'scan')
        |        THEN 1.0/sd.k ELSE 0.0 END AS sm FROM nodes, sd),
        |r0 AS (SELECT id, sm AS r FROM m0),
        |s1 AS (SELECT coalesce(sum(r),0.0) AS s FROM r0 WHERE id NOT IN (SELECT src FROM deg)),
        |c1 AS (SELECT e.dst AS id, sum(r0.r/deg.outdeg) AS c
        |       FROM e JOIN r0 ON e.src=r0.id JOIN deg ON e.src=deg.src GROUP BY e.dst),
        |r1 AS (SELECT m0.id, m0.sm, (1 - 0.85)*m0.sm + 0.85*(coalesce(c1.c,0.0)+s1.s*m0.sm) AS r
        |       FROM m0 CROSS JOIN s1 LEFT JOIN c1 ON m0.id=c1.id),
        |s2 AS (SELECT coalesce(sum(r),0.0) AS s FROM r1 WHERE id NOT IN (SELECT src FROM deg)),
        |c2 AS (SELECT e.dst AS id, sum(r1.r/deg.outdeg) AS c
        |       FROM e JOIN r1 ON e.src=r1.id JOIN deg ON e.src=deg.src GROUP BY e.dst),
        |r2 AS (SELECT r1.id, r1.sm, (1 - 0.85)*r1.sm + 0.85*(coalesce(c2.c,0.0)+s2.s*r1.sm) AS r
        |       FROM r1 CROSS JOIN s2 LEFT JOIN c2 ON r1.id=c2.id),
        |s3 AS (SELECT coalesce(sum(r),0.0) AS s FROM r2 WHERE id NOT IN (SELECT src FROM deg)),
        |c3 AS (SELECT e.dst AS id, sum(r2.r/deg.outdeg) AS c
        |       FROM e JOIN r2 ON e.src=r2.id JOIN deg ON e.src=deg.src GROUP BY e.dst),
        |r3 AS (SELECT r2.id, (1 - 0.85)*r2.sm + 0.85*(coalesce(c3.c,0.0)+s3.s*r2.sm) AS r
        |       FROM r2 CROSS JOIN s3 LEFT JOIN c3 ON r2.id=c3.id)
        |SELECT id AS word, round(r, 6) AS ppr FROM r3 ORDER BY word""".stripMargin,

    "graph_hits" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |e AS (SELECT DISTINCT w[i] AS src, w[i+1] AS dst
        |      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)
        |      WHERE w[i] <> w[i+1]),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |a1r AS (SELECT dst AS id, CAST(count(*) AS DOUBLE) AS a FROM e GROUP BY dst),
        |n1 AS (SELECT sqrt(sum(a*a)) AS z FROM a1r),
        |a1 AS (SELECT nodes.id, coalesce(a1r.a, 0.0)/n1.z AS a
        |       FROM nodes CROSS JOIN n1 LEFT JOIN a1r ON nodes.id = a1r.id),
        |h1r AS (SELECT e.src AS id, sum(a1.a) AS h
        |        FROM e JOIN a1 ON e.dst = a1.id GROUP BY e.src),
        |m1 AS (SELECT sqrt(sum(h*h)) AS z FROM h1r),
        |h1 AS (SELECT nodes.id, coalesce(h1r.h, 0.0)/m1.z AS h
        |       FROM nodes CROSS JOIN m1 LEFT JOIN h1r ON nodes.id = h1r.id),
        |a2r AS (SELECT e.dst AS id, sum(h1.h) AS a
        |        FROM e JOIN h1 ON e.src = h1.id GROUP BY e.dst),
        |n2 AS (SELECT sqrt(sum(a*a)) AS z FROM a2r),
        |a2 AS (SELECT nodes.id, coalesce(a2r.a, 0.0)/n2.z AS a
        |       FROM nodes CROSS JOIN n2 LEFT JOIN a2r ON nodes.id = a2r.id),
        |h2r AS (SELECT e.src AS id, sum(a2.a) AS h
        |        FROM e JOIN a2 ON e.dst = a2.id GROUP BY e.src),
        |m2 AS (SELECT sqrt(sum(h*h)) AS z FROM h2r),
        |h2 AS (SELECT nodes.id, coalesce(h2r.h, 0.0)/m2.z AS h
        |       FROM nodes CROSS JOIN m2 LEFT JOIN h2r ON nodes.id = h2r.id)
        |SELECT h2.id AS word, round(h2.h, 6) AS hub, round(a2.a, 6) AS auth
        |FROM h2 JOIN a2 ON h2.id = a2.id ORDER BY word""".stripMargin,

    // the closed-form answer: peeling K8+chain at k=3 leaves exactly
    // the clique at degree 7 (chain nodes have degree ≤ 2 and peel;
    // node 7 then drops its chain edge but keeps 7 in-clique)
    "graph_kcore" ->
      """SELECT CAST(r AS VARCHAR) AS id, CAST(7 AS BIGINT) AS core_degree
        |FROM range(8) t(r) ORDER BY id""".stripMargin,

    // Two unrolled synchronous LPA rounds (most-frequent neighbor
    // label, ties to the MINIMUM label — VARCHAR comparisons on both
    // engines) over the two-clique + bridge graph.
    "graph_lpa" ->
      """WITH e0 AS (
        |  SELECT a.r AS s, b.r AS d FROM range(8) a(r), range(8) b(r) WHERE a.r < b.r
        |  UNION ALL
        |  SELECT a.r + 10, b.r + 10 FROM range(8) a(r), range(8) b(r) WHERE a.r < b.r
        |  UNION ALL SELECT 7, 10),
        |e AS (SELECT DISTINCT least(CAST(s AS VARCHAR), CAST(d AS VARCHAR)) AS a,
        |       greatest(CAST(s AS VARCHAR), CAST(d AS VARCHAR)) AS b
        |      FROM e0 WHERE CAST(s AS VARCHAR) != CAST(d AS VARCHAR)),
        |u AS (SELECT a AS id, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
        |l0 AS (SELECT DISTINCT id, id AS lbl FROM u),
        |r1 AS (SELECT u.id, l.lbl, count(*) AS c
        |       FROM u JOIN l0 l ON u.nbr = l.id GROUP BY 1, 2),
        |l1 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |        row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |       FROM r1) WHERE rn = 1),
        |r2 AS (SELECT u.id, l.lbl, count(*) AS c
        |       FROM u JOIN l1 l ON u.nbr = l.id GROUP BY 1, 2),
        |l2 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |        row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |       FROM r2) WHERE rn = 1)
        |SELECT id, lbl AS community FROM l2 ORDER BY id""".stripMargin,

    // the LPA oracle's unrolled labels extended with the modularity
    // rollup (intra edges + degree mass per community vs the null)
    "graph_modularity" ->
      """WITH e0 AS (
        |  SELECT a.r AS s, b.r AS d FROM range(8) a(r), range(8) b(r) WHERE a.r < b.r
        |  UNION ALL
        |  SELECT a.r + 10, b.r + 10 FROM range(8) a(r), range(8) b(r) WHERE a.r < b.r
        |  UNION ALL SELECT 7, 10),
        |e AS (SELECT DISTINCT least(CAST(s AS VARCHAR), CAST(d AS VARCHAR)) AS a,
        |       greatest(CAST(s AS VARCHAR), CAST(d AS VARCHAR)) AS b
        |      FROM e0 WHERE CAST(s AS VARCHAR) != CAST(d AS VARCHAR)),
        |u AS (SELECT a AS id, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
        |l0 AS (SELECT DISTINCT id, id AS lbl FROM u),
        |r1 AS (SELECT u.id, l.lbl, count(*) AS c
        |       FROM u JOIN l0 l ON u.nbr = l.id GROUP BY 1, 2),
        |l1 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |        row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |       FROM r1) WHERE rn = 1),
        |r2 AS (SELECT u.id, l.lbl, count(*) AS c
        |       FROM u JOIN l1 l ON u.nbr = l.id GROUP BY 1, 2),
        |l2 AS (SELECT id, lbl FROM (SELECT id, lbl,
        |        row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
        |       FROM r2) WHERE rn = 1),
        |mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM e),
        |intra AS (SELECT la.lbl AS community,
        |   CAST(count(*) AS BIGINT) AS intra_edges
        |  FROM e JOIN l2 la ON e.a = la.id JOIN l2 lb ON e.b = lb.id
        |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
        |deg AS (SELECT id, count(*) AS d FROM u GROUP BY id),
        |dm AS (SELECT l2.lbl AS community,
        |   CAST(sum(d) AS BIGINT) AS degree_mass
        |  FROM deg JOIN l2 ON deg.id = l2.id GROUP BY l2.lbl)
        |SELECT dm.community,
        | CAST(coalesce(intra_edges, 0) AS BIGINT) AS intra_edges,
        | degree_mass,
        | round(CAST(coalesce(intra_edges, 0) AS DOUBLE) / m
        |  - pow(CAST(degree_mass AS DOUBLE) / (2 * m), 2), 6) AS q_c
        |FROM dm LEFT JOIN intra USING (community) CROSS JOIN mm
        |ORDER BY community""".stripMargin,

    // same edge construction as graph_pagerank's oracle, canonicalized
    // undirected; wedges at pivots with 2 <= deg <= 1000; existing
    // pairs anti-joined away.
    "graph_linkpred" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |e0 AS (SELECT DISTINCT w[i] AS src, w[i+1] AS dst
        |      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)
        |      WHERE w[i] <> w[i+1]),
        |c AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM e0),
        |un AS (SELECT a AS z, b AS n FROM c UNION ALL SELECT b, a FROM c),
        |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM un GROUP BY z),
        |p AS (SELECT un.z, deg.deg, un.n FROM un JOIN deg USING (z)
        |      WHERE deg BETWEEN 2 AND 1000),
        |w2 AS (SELECT p1.n AS pu, p2.n AS pv, p1.deg
        |       FROM p p1 JOIN p p2 ON p1.z = p2.z AND p1.n < p2.n),
        |sc AS (SELECT pu, pv, round(sum(1.0/ln(deg)), 6) AS aa_score,
        |        CAST(count(*) AS BIGINT) AS n_common FROM w2 GROUP BY 1, 2),
        |nt AS (SELECT sc.* FROM sc LEFT JOIN c
        |        ON sc.pu = c.a AND sc.pv = c.b WHERE c.a IS NULL)
        |SELECT pu AS u, pv AS v, aa_score, n_common FROM nt
        |ORDER BY aa_score DESC, u, v LIMIT 20""".stripMargin,

    "text_search" ->
      """WITH t0 AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS term FROM documents),
        |toks AS (SELECT DISTINCT doc_id, term FROM t0 WHERE term != '')
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(count(*) AS BIGINT) AS n_terms_matched
        |FROM toks WHERE term IN ('vector', 'stream', 'window', 'query')
        |GROUP BY doc_id HAVING count(*) = 4 ORDER BY doc_id""".stripMargin,

    "text_jw" ->
      """WITH t0 AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS w FROM documents),
        |v AS (SELECT DISTINCT w FROM t0 WHERE w != ''),
        |p AS (SELECT a.w AS wa, b.w AS wb FROM v a JOIN v b ON a.w < b.w)
        |SELECT wa, wb, round(jaro_winkler_similarity(wa, wb), 6) AS jw
        |FROM p WHERE round(jaro_winkler_similarity(wa, wb), 6) >= 0.5
        |ORDER BY wa, wb""".stripMargin,

    "text_len_hist" ->
      """SELECT CAST(length(bin(n_chars)) - 1 AS INT) AS log2_bucket,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents WHERE n_chars > 0
        |GROUP BY 1 ORDER BY log2_bucket""".stripMargin,

    "dedup_threshold_sweep" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(0, greatest(length(text) - 5, 0) + 1),
        |    i -> substr(text, i + 1, 5))) AS s
        | FROM documents WHERE doc_id < 1000),
        |pc AS (SELECT tau, (
        |  SELECT count(*) FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |   AND 100 * least(len(a.s), len(b.s)) >= tau * greatest(len(a.s), len(b.s))
        |  WHERE 100 * len(list_intersect(a.s, b.s)) >=
        |    tau * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))))
        |  AS n FROM (VALUES (51), (66), (80)) t(tau))
        |SELECT CAST(tau AS INT) AS tau_pct, CAST(n AS BIGINT) AS n_pairs
        |FROM pc ORDER BY tau_pct""".stripMargin,

    "text_ascii" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | round(sum(length(regexp_replace(text, '[^\x00-\x7F]', '', 'g'))*1.0)
        |   / sum(length(text)*1.0), 6) AS ascii_share,
        | CAST(count(*) FILTER (WHERE regexp_matches(text, '[^\x00-\x7F]'))
        |   AS BIGINT) AS n_docs_nonascii
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,

    "text_burstiness" ->
      """WITH t0 AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS term FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cf,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |      FROM t0 WHERE term != '' GROUP BY 1)
        |SELECT term, cf, df, round(cf*1.0/df, 6) AS burstiness
        |FROM c ORDER BY cf DESC, term LIMIT 20""".stripMargin,

    "pipeline_lang_balance" ->
      """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |       FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(n) AS DOUBLE) AS nt,
        |        CAST(count(*) AS BIGINT) AS n_langs FROM cells GROUP BY 1)
        |SELECT cells.source, any_value(n_langs) AS n_langs,
        | CAST(any_value(nt) AS BIGINT) AS n_docs,
        | round(sum(-(n/nt) * ln(n/nt)) / ln(any_value(n_langs)), 6)
        |   AS balance_entropy
        |FROM cells JOIN tot ON cells.source = tot.source
        |GROUP BY cells.source HAVING any_value(n_langs) > 1
        |ORDER BY cells.source""".stripMargin,

    "pipeline_card" ->
      """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |          AS toks,
        |        CAST(sum(length(text)) AS BIGINT) AS chars
        |       FROM documents GROUP BY 1, 2),
        |uniq AS (SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS u
        |         FROM documents GROUP BY 1),
        |src AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |        CAST(sum(toks) AS BIGINT) AS ws_tokens,
        |        CAST(sum(chars) AS BIGINT) AS n_chars
        |       FROM cells GROUP BY 1),
        |top AS (SELECT source, lang AS top_lang, n AS top_n FROM (
        |        SELECT source, lang, n, row_number() OVER (PARTITION BY source
        |          ORDER BY n DESC, lang) AS rn FROM cells) WHERE rn = 1),
        |tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total FROM src)
        |SELECT src.source, n_docs,
        | round(n_docs/total, 6) AS corpus_share, ws_tokens, n_chars,
        | top_lang, round(top_n * 1.0/n_docs, 6) AS top_lang_share,
        | round(1.0 - u * 1.0/n_docs, 6) AS exact_dup_rate
        |FROM src JOIN top ON src.source = top.source
        |JOIN uniq ON src.source = uniq.source, tot
        |ORDER BY src.source""".stripMargin,

    // artifact round-trip + pruning + delta must EQUAL the whole-corpus
    // conjunctive search
    "text_search_index" ->
      """WITH t0 AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS term FROM documents),
        |toks AS (SELECT DISTINCT doc_id, term FROM t0 WHERE term != '')
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(count(*) AS BIGINT) AS n_terms_matched
        |FROM toks WHERE term IN ('merge', 'filter', 'group')
        |GROUP BY doc_id HAVING count(*) = 3 ORDER BY doc_id""".stripMargin,

    "text_kwic" ->
      """WITH p AS (SELECT doc_id, CAST(position('vector' IN lower(text)) AS INT)
        |        AS pos, text
        |       FROM documents WHERE doc_id < 100)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, pos,
        | substr(text, greatest(pos - 20, 1),
        |   pos + 26 - greatest(pos - 20, 1)) AS snippet
        |FROM p WHERE pos > 0 ORDER BY doc_id""".stripMargin,

    // SCD-2 runs restated (same CTE chain as pipeline_scd2), then each
    // fact picks the max valid_from <= its version — the PIT contract.
    "pipeline_pit" ->
      """WITH s AS (SELECT o_orderkey % 500 AS ent_id, o_orderkey AS version,
        |        o_orderstatus AS status, o_orderpriority AS priority
        |       FROM orders WHERE o_orderkey % 500 < 20),
        |d AS (SELECT *, status || chr(1) || priority AS dg FROM s),
        |c AS (SELECT *, CASE WHEN lag(dg) OVER
        |        (PARTITION BY ent_id ORDER BY version) IS DISTINCT FROM dg
        |       THEN 1 ELSE 0 END AS chg FROM d),
        |r AS (SELECT *, sum(chg) OVER
        |       (PARTITION BY ent_id ORDER BY version) AS run FROM c),
        |h AS (SELECT ent_id, min(version) AS valid_from,
        |       min(status) AS status, min(priority) AS priority
        |      FROM r GROUP BY ent_id, run),
        |f AS (SELECT l_orderkey % 500 AS ent_id, l_orderkey - 3 AS v
        |      FROM lineitem WHERE l_orderkey % 500 < 20),
        |m AS (SELECT f.ent_id, f.v,
        |       (SELECT max(valid_from) FROM h
        |        WHERE h.ent_id = f.ent_id AND h.valid_from <= f.v) AS vf
        |      FROM f),
        |j AS (SELECT m.ent_id, h.status, h.priority FROM m
        |      LEFT JOIN h ON h.ent_id = m.ent_id AND h.valid_from = m.vf)
        |SELECT coalesce(status, 'none') AS status,
        | coalesce(priority, 'none') AS priority,
        | CAST(count(*) AS BIGINT) AS n_facts,
        | CAST(count(DISTINCT ent_id) AS BIGINT) AS n_ents
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "pipeline_scd2_audit" ->
      """WITH iv AS (SELECT o_orderkey % 50 AS id, o_orderkey AS f,
        |        o_orderkey + 1 + o_custkey % 100 AS t
        |       FROM orders WHERE o_orderkey % 50 < 10),
        |x AS (SELECT id, f, t, lead(f) OVER
        |       (PARTITION BY id ORDER BY f, t) AS nf FROM iv)
        |SELECT CAST(count(*) AS BIGINT) AS n_intervals,
        | CAST(count(DISTINCT id) AS BIGINT) AS n_ids,
        | CAST(count(*) FILTER (WHERE t <= f) AS BIGINT) AS n_degenerate,
        | CAST(count(*) FILTER (WHERE nf < t) AS BIGINT) AS n_overlaps,
        | CAST(count(*) FILTER (WHERE nf > t) AS BIGINT) AS n_gaps,
        | count(*) FILTER (WHERE t <= f) + count(*) FILTER (WHERE nf < t)
        |   + count(*) FILTER (WHERE nf > t) = 0 AS tiles_cleanly
        |FROM x""".stripMargin,

    "pipeline_quantile_map" ->
      """WITH a AS (SELECT CAST(n_chars AS DOUBLE) AS v,
        |        row_number() OVER (ORDER BY n_chars) - 1 AS i
        |       FROM documents WHERE source = 'src0'),
        |an AS (SELECT i, v, lead(v) OVER (ORDER BY i) AS vn FROM a),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM a),
        |b AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS t,
        |       (row_number() OVER (ORDER BY n_chars, doc_id) - 1) * 1.0
        |         / (count(*) OVER () - 1) AS p
        |      FROM documents WHERE source = 'src1'),
        |m AS (SELECT b.*, CAST(floor(p * (na.n - 1)) AS BIGINT) AS lo,
        |       p * (na.n - 1) - floor(p * (na.n - 1)) AS frac FROM b, na)
        |SELECT CAST(m.doc_id AS BIGINT) AS id, m.t AS value,
        | round(m.p, 6) AS percentile,
        | round(an.v + m.frac * (coalesce(an.vn, an.v) - an.v), 6) AS mapped
        |FROM m JOIN an ON an.i = m.lo ORDER BY id""".stripMargin,

    "pipeline_quantile_map_scale" -> {
      // the 17 probe literals must be the same doubles Spark uses
      // ((0..16)/16 — exact binary fractions, so the decimal strings
      // round-trip bit-exact through both parsers)
      val probes = (0 to 16).map(j => (j.toDouble / 16).toString)
        .mkString("[", ", ", "]")
      s"""WITH rg AS (SELECT quantile_disc(CAST(n_chars AS DOUBLE), $probes) AS g
         |       FROM documents WHERE source = 'src0'),
         |tg AS (SELECT quantile_disc(CAST(n_chars AS DOUBLE), $probes) AS g
         |       FROM documents WHERE source = 'src1'),
         |rows_ AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS v
         |       FROM documents WHERE source = 'src1'),
         |c AS (SELECT doc_id, v,
         |       len(list_filter(tg.g, z -> z <= v)) AS cnt FROM rows_, tg),
         |p AS (SELECT doc_id, v,
         |       CASE WHEN cnt = 0 THEN 0.0 WHEN cnt = 17 THEN 1.0
         |            ELSE (cnt - 1 + (v - tg.g[cnt]) / (tg.g[cnt + 1] - tg.g[cnt])) / 16
         |       END AS p
         |      FROM c, tg),
         |m AS (SELECT doc_id, v, p,
         |       CAST(least(greatest(floor(p * 16), 0), 15) AS INT) AS j
         |      FROM p)
         |SELECT CAST(m.doc_id AS BIGINT) AS id, m.v AS value,
         | round(m.p, 6) AS percentile,
         | round(rg.g[m.j + 1] + (m.p * 16 - m.j) * (rg.g[m.j + 2] - rg.g[m.j + 1]), 6)
         |   AS mapped
         |FROM m, rg ORDER BY id""".stripMargin
    },

    "sim_label_drift" ->
      """WITH cells AS (SELECT label % 5 AS g, CAST(i AS INT) AS dim,
        |        avg(CAST(embedding[i+1] AS DOUBLE)) AS m
        |       FROM embeddings, range(64) r(i)
        |       WHERE len(embedding) = 64 GROUP BY 1, 2)
        |SELECT a.g AS ga, b.g AS gb,
        | round(sum(a.m*b.m)
        |   / (sqrt(sum(a.m*a.m)) * sqrt(sum(b.m*b.m))), 6) AS centroid_cos
        |FROM cells a JOIN cells b ON a.dim = b.dim AND a.g < b.g
        |GROUP BY 1, 2 ORDER BY ga, gb""".stripMargin,

    "pipeline_pack_stats" ->
      """WITH d AS (SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        | FROM documents),
        |c AS (SELECT *, sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d),
        |p AS (SELECT *, CAST(floor((cum - toks) / 2048.0) AS BIGINT)
        |  AS pack_id FROM c),
        |g AS (SELECT source, pack_id, CAST(sum(toks) AS BIGINT) AS pack_toks
        |      FROM p GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_packs,
        | CAST(sum(pack_toks) AS BIGINT) AS total_toks,
        | round(sum(pack_toks) / (count(*) * 2048.0), 6) AS utilization,
        | round(count(*) FILTER (WHERE pack_toks >= 1843)
        |   / CAST(count(*) AS DOUBLE), 6) AS share_full90
        |FROM g""".stripMargin,

    "sim_norm_dist" ->
      """WITH x AS (SELECT label % 5 AS g,
        |        sqrt(list_sum(list_transform(embedding::DOUBLE[],
        |          v -> v*v))) AS nrm
        |       FROM embeddings WHERE len(embedding) = 64)
        |SELECT g, CAST(count(*) AS BIGINT) AS n,
        | round(quantile_cont(nrm, 0.5), 6) AS p50_norm,
        | round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm
        |FROM x GROUP BY g ORDER BY g""".stripMargin,

    "sim_triplet_margin" ->
      """WITH sub AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |             FROM embeddings WHERE vec_id < 200 AND len(embedding) = 64),
        |c AS (SELECT a.vec_id AS qid, a.label AS qlabel, b.label AS nl,
        |       round(list_cosine_similarity(b.v, a.v), 4) AS cos
        |      FROM sub a JOIN sub b ON a.vec_id != b.vec_id),
        |best AS (SELECT qid,
        |        max(cos) FILTER (WHERE nl = qlabel) AS best_same,
        |        max(cos) FILTER (WHERE nl != qlabel) AS best_diff
        |       FROM c GROUP BY 1
        |       HAVING max(cos) FILTER (WHERE nl = qlabel) IS NOT NULL
        |         AND max(cos) FILTER (WHERE nl != qlabel) IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_anchors,
        | CAST(count(*) FILTER (WHERE best_diff >= best_same) AS BIGINT)
        |   AS n_violated,
        | round(count(*) FILTER (WHERE best_diff >= best_same)
        |   / CAST(count(*) AS DOUBLE), 6) AS violation_rate
        |FROM best""".stripMargin,

    "sim_knn_accuracy" ->
      """WITH sub AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |             FROM embeddings WHERE vec_id < 200 AND len(embedding) = 64),
        |knn AS (SELECT a.vec_id AS qid, b.label AS nn_label,
        |        row_number() OVER (PARTITION BY a.vec_id
        |          ORDER BY round(list_cosine_similarity(b.v, a.v), 4) DESC,
        |            b.vec_id) AS rank
        |       FROM sub a JOIN sub b ON a.vec_id != b.vec_id),
        |votes AS (SELECT qid, nn_label, CAST(count(*) AS BIGINT) AS c
        |          FROM knn WHERE rank <= 5 GROUP BY 1, 2),
        |w AS (SELECT qid, nn_label AS pred FROM (SELECT qid, nn_label,
        |        row_number() OVER (PARTITION BY qid
        |          ORDER BY c DESC, nn_label) AS rn FROM votes) WHERE rn = 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_evaluated,
        | CAST(count(*) FILTER (WHERE w.pred = sub.label) AS BIGINT)
        |   AS n_correct,
        | round(count(*) FILTER (WHERE w.pred = sub.label)
        |   / CAST(count(*) AS DOUBLE), 6) AS accuracy
        |FROM w JOIN sub ON w.qid = sub.vec_id""".stripMargin,

    "sim_dim_health" ->
      """WITH x AS (SELECT CAST(i AS INT) AS dim,
        |        CAST(embedding[i+1] AS DOUBLE) AS v
        |       FROM embeddings, range(64) r(i)
        |       WHERE len(embedding) = 64)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n,
        | round(avg(v), 6) AS mean_v, round(var_samp(v), 6) AS var_v,
        | CAST(count(*) FILTER (WHERE abs(v) < 1e-6) AS BIGINT) AS n_zero,
        | round(var_samp(v), 6) < 1e-6 AS dead
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,

    "sim_outlier" ->
      """WITH sub AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |             WHERE vec_id < 200 AND len(embedding) = 64),
        |knn AS (SELECT a.vec_id, round(list_cosine_similarity(b.v, a.v), 4)
        |          AS cos,
        |        row_number() OVER (PARTITION BY a.vec_id
        |          ORDER BY round(list_cosine_similarity(b.v, a.v), 4) DESC,
        |            b.vec_id) AS rank
        |       FROM sub a JOIN sub b ON a.vec_id != b.vec_id)
        |SELECT vec_id, cos AS knn5_cos, round(1.0 - cos, 4) AS outlier_score
        |FROM knn WHERE rank = 5
        |ORDER BY knn5_cos ASC, vec_id LIMIT 10""".stripMargin,

    "sim_pca_cov" ->
      """WITH x AS (SELECT vec_id, CAST(i AS INT) AS i,
        |        CAST(embedding[i+1] AS DOUBLE) AS v
        |       FROM embeddings, range(64) r(i)
        |       WHERE len(embedding) = 64)
        |SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS n,
        | round((sum(a.v * b.v) - sum(a.v) * sum(b.v) / count(*))
        |   / (count(*) - 1), 6) + 0 AS cov
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // trace = Σ per-dim sample variances (the diagonal of the same
    // moment-identity covariance sim_pca_cov restates); the eigen-step
    // invariants are literal-true verdicts the engine must reproduce
    "sim_pca_var" ->
      """WITH x AS (SELECT vec_id, CAST(i AS INT) AS i,
        |        CAST(embedding[i+1] AS DOUBLE) AS v
        |       FROM embeddings, range(64) r(i)
        |       WHERE len(embedding) = 64),
        |tr AS (SELECT round(sum(s2), 4) + 0 AS trace FROM
        |       (SELECT i, (sum(v * v) - sum(v) * sum(v) / count(*))
        |          / (count(*) - 1) AS s2 FROM x GROUP BY 1))
        |SELECT CAST(c AS INT) AS component,
        | (SELECT trace FROM tr) AS trace,
        | CAST(1.0 AS DOUBLE) AS ratio_sum_all,
        | true AS nonneg_ok, true AS nonincreasing_ok, true AS cum_le_one_ok
        |FROM (SELECT unnest(range(8)) AS c)
        |ORDER BY component""".stripMargin,

    "sim_outlier_maha" ->
      """WITH x AS (SELECT vec_id, CAST(i AS INT) AS i,
        |        CAST(embedding[i+1] AS DOUBLE) AS v
        |       FROM embeddings, range(64) r(i)
        |       WHERE len(embedding) = 64),
        |s AS (SELECT i, avg(v) AS m, var_samp(v) AS s2 FROM x GROUP BY 1),
        |sc AS (SELECT x.vec_id,
        |        sum(CASE WHEN s.s2 > 0 THEN (x.v - s.m) * (x.v - s.m) / s.s2
        |                 ELSE 0 END) AS score
        |       FROM x JOIN s ON x.i = s.i GROUP BY 1)
        |SELECT vec_id, round(score, 4) AS maha2
        |FROM sc ORDER BY round(score, 4) DESC, vec_id LIMIT 10""".stripMargin,

    "sim_db_index" ->
      """WITH x AS (SELECT vec_id, vec_id % 5 AS cluster, CAST(i AS INT) AS i,
        |        CAST(embedding[i+1] AS DOUBLE) AS v
        |       FROM embeddings, range(64) r(i)
        |       WHERE len(embedding) = 64),
        |c AS (SELECT cluster, i, avg(v) AS cv FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, x.cluster,
        |        sqrt(sum((x.v - c.cv) * (x.v - c.cv))) AS dist
        |       FROM x JOIN c ON x.cluster = c.cluster AND x.i = c.i
        |       GROUP BY 1, 2),
        |s AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n,
        |        avg(dist) AS scatter FROM d GROUP BY 1),
        |cd AS (SELECT a.cluster AS ca, b.cluster AS cb,
        |        sqrt(sum((a.cv - b.cv) * (a.cv - b.cv))) AS cdist
        |       FROM c a JOIN c b ON a.i = b.i AND a.cluster != b.cluster
        |       GROUP BY 1, 2),
        |r AS (SELECT cd.ca AS cluster,
        |        max((sa.scatter + sb.scatter) / cd.cdist) AS worst
        |       FROM cd JOIN s sa ON cd.ca = sa.cluster
        |       JOIN s sb ON cd.cb = sb.cluster
        |       WHERE cd.cdist > 0 GROUP BY 1)
        |SELECT s.cluster, s.n, round(s.scatter, 6) AS scatter,
        | round(r.worst, 6) AS worst_ratio
        |FROM s JOIN r ON s.cluster = r.cluster ORDER BY s.cluster""".stripMargin,

    // same centroid distances, same own/other min split
    // the whole deterministic construction restated: bounding box,
    // md5-bottom real probes, md5-fraction synthetic coordinates
    // (FLOAT-cast to mirror the engine's Seq[Float] probes), NN mins
    "sim_hopkins" -> {
      val fr = duckHex("CAST(j.j AS VARCHAR) || ':' || CAST(b.k AS VARCHAR)", 6) +
        " / 16777216.0"
      s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings
         |           WHERE len(embedding) = 64),
         |ex AS (SELECT id, generate_subscripts(v, 1) - 1 AS k,
         |       CAST(unnest(v) AS DOUBLE) AS x FROM e),
         |b AS (SELECT k, min(x) AS lo, max(x) AS hi FROM ex GROUP BY 1),
         |realp AS (SELECT id FROM e
         |          ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16),
         |sy AS (SELECT j.j, b.k, CAST(CAST(
         |        b.lo + ($fr) * (b.hi - b.lo) AS FLOAT) AS DOUBLE) AS x
         |       FROM range(16) j(j), b),
         |dus AS (SELECT sy.j, ex.id,
         |        sqrt(sum((ex.x - sy.x) * (ex.x - sy.x))) AS dist
         |       FROM ex JOIN sy ON ex.k = sy.k GROUP BY 1, 2),
         |du AS (SELECT j, min(dist) AS d FROM dus GROUP BY 1),
         |rex AS (SELECT ex.id AS pid, ex.k, ex.x AS px
         |        FROM ex JOIN realp ON ex.id = realp.id),
         |dws AS (SELECT r.pid, o.id,
         |        sqrt(sum((o.x - r.px) * (o.x - r.px))) AS dist
         |       FROM ex o JOIN rex r ON o.k = r.k AND o.id <> r.pid
         |       GROUP BY 1, 2),
         |dw AS (SELECT pid, min(dist) AS d FROM dws GROUP BY 1),
         |f AS (SELECT (SELECT sum(d) FROM du) AS su,
         |  (SELECT sum(d) FROM dw) AS sw,
         |  (SELECT CAST(count(*) AS BIGINT) FROM realp) AS m)
         |SELECT m, round(su, 6) AS sum_u, round(sw, 6) AS sum_w,
         | CASE WHEN su + sw > 0 THEN round(su / (su + sw), 6) END AS h
         |FROM f""".stripMargin
    },

    // the identical greedy chain unrolled: max-norm seed, then three
    // farthest-point rounds, min-id tie-breaks, picked ids excluded
    "sim_kcenter" ->
      """WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings
        |           WHERE len(embedding) = 64),
        |ex AS (SELECT id, generate_subscripts(v, 1) AS pos,
        |       CAST(unnest(v) AS DOUBLE) AS x FROM e),
        |c1 AS (SELECT id FROM (SELECT id,
        |        sqrt(list_sum(list_transform(v,
        |          a -> CAST(a AS DOUBLE) * a))) AS nrm
        |       FROM e) ORDER BY nrm DESC, id LIMIT 1),
        |cx1 AS (SELECT pos, x FROM ex WHERE id = (SELECT id FROM c1)),
        |d1 AS (SELECT ex.id, sum((ex.x - c.x) * (ex.x - c.x)) AS d
        |       FROM ex JOIN cx1 c USING (pos)
        |       WHERE ex.id <> (SELECT id FROM c1) GROUP BY ex.id),
        |p2 AS (SELECT id, d FROM d1 ORDER BY d DESC, id LIMIT 1),
        |cx2 AS (SELECT pos, x FROM ex WHERE id = (SELECT id FROM p2)),
        |m2 AS (SELECT d1.id, least(d1.d, d2.d) AS d FROM d1
        |       JOIN (SELECT ex.id, sum((ex.x - c.x) * (ex.x - c.x)) AS d
        |             FROM ex JOIN cx2 c USING (pos) GROUP BY ex.id) d2
        |         USING (id)
        |       WHERE d1.id <> (SELECT id FROM p2)),
        |p3 AS (SELECT id, d FROM m2 ORDER BY d DESC, id LIMIT 1),
        |cx3 AS (SELECT pos, x FROM ex WHERE id = (SELECT id FROM p3)),
        |m3 AS (SELECT m2.id, least(m2.d, d3.d) AS d FROM m2
        |       JOIN (SELECT ex.id, sum((ex.x - c.x) * (ex.x - c.x)) AS d
        |             FROM ex JOIN cx3 c USING (pos) GROUP BY ex.id) d3
        |         USING (id)
        |       WHERE m2.id <> (SELECT id FROM p3)),
        |p4 AS (SELECT id, d FROM m3 ORDER BY d DESC, id LIMIT 1)
        |SELECT 1 AS sel_rank, (SELECT id FROM c1) AS vec_id,
        | CAST(NULL AS DOUBLE) AS radius
        |UNION ALL SELECT 2, id, round(sqrt(d), 6) FROM p2
        |UNION ALL SELECT 3, id, round(sqrt(d), 6) FROM p3
        |UNION ALL SELECT 4, id, round(sqrt(d), 6) FROM p4
        |ORDER BY sel_rank""".stripMargin,

    // Same bin/smoothing conventions as q_drift_psi, per dimension:
    // equi-width bins over each dim's own min/max, Laplace
    // (c+0.5)/(n+0.5*bins), constant dims bin to 0.
    "sim_dim_drift" ->
      """WITH x AS (SELECT label <= 4 AS a, CAST(i AS INT) AS dim,
        |        CAST(embedding[i+1] AS DOUBLE) AS v
        |       FROM embeddings, range(64) r(i)
        |       WHERE len(embedding) = 64),
        |b AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM x GROUP BY 1),
        |h AS (SELECT x.dim,
        |        CASE WHEN b.hi = b.lo THEN 0 ELSE
        |          least(9, CAST(floor((x.v - b.lo) / ((b.hi - b.lo) / 10))
        |            AS INT)) END AS bin,
        |        CAST(count(*) FILTER (x.a) AS BIGINT) AS ca,
        |        CAST(count(*) FILTER (NOT x.a) AS BIGINT) AS cb
        |       FROM x JOIN b USING (dim) GROUP BY 1, 2),
        |g AS (SELECT d.dim, gg.bin,
        |        coalesce(h.ca, 0) AS ca, coalesce(h.cb, 0) AS cb
        |       FROM (SELECT DISTINCT dim FROM b) d
        |       CROSS JOIN (SELECT CAST(u.i AS INT) AS bin
        |                   FROM unnest(range(0, 10)) AS u(i)) gg
        |       LEFT JOIN h ON h.dim = d.dim AND h.bin = gg.bin),
        |tot AS (SELECT dim, CAST(sum(ca) AS BIGINT) AS n_a,
        |        CAST(sum(cb) AS BIGINT) AS n_b FROM g GROUP BY dim),
        |t AS (SELECT g.dim, tot.n_a, tot.n_b,
        |        sum(((g.ca + 0.5) / (tot.n_a + 5.0)
        |           - (g.cb + 0.5) / (tot.n_b + 5.0))
        |          * ln(((g.ca + 0.5) / (tot.n_a + 5.0))
        |              / ((g.cb + 0.5) / (tot.n_b + 5.0)))) AS psi
        |       FROM g JOIN tot USING (dim) GROUP BY 1, 2, 3)
        |SELECT dim, n_a, n_b, round(psi, 6) AS psi FROM t ORDER BY dim""".stripMargin,

    // The sim_kcenter unrolled-greedy pattern with MMR's scoring:
    // round-6 cosines (the rank-agreement discipline), 0.7/0.3 weights
    // written as plain literals (the engine computes (1-lambda) in
    // exact decimal to land on the same doubles).
    "sim_mmr" ->
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v,
        |        CAST(vec_id % 23 AS DOUBLE) / 22 AS rel FROM embeddings
        |       WHERE len(embedding) = 64),
        |p1 AS (SELECT id, v, rel FROM e ORDER BY rel DESC, id LIMIT 1),
        |m1 AS (SELECT e.id, e.v, e.rel,
        |        round(list_cosine_similarity(e.v, p1.v), 6) AS ms
        |       FROM e, p1 WHERE e.id <> p1.id),
        |p2 AS (SELECT id, v, rel, 0.7 * rel - 0.3 * ms AS sc FROM m1
        |       ORDER BY sc DESC, id LIMIT 1),
        |m2 AS (SELECT m1.id, m1.v, m1.rel,
        |        greatest(m1.ms, round(list_cosine_similarity(m1.v, p2.v), 6)) AS ms
        |       FROM m1, p2 WHERE m1.id <> p2.id),
        |p3 AS (SELECT id, v, rel, 0.7 * rel - 0.3 * ms AS sc FROM m2
        |       ORDER BY sc DESC, id LIMIT 1),
        |m3 AS (SELECT m2.id, m2.v, m2.rel,
        |        greatest(m2.ms, round(list_cosine_similarity(m2.v, p3.v), 6)) AS ms
        |       FROM m2, p3 WHERE m2.id <> p3.id),
        |p4 AS (SELECT id, rel, 0.7 * rel - 0.3 * ms AS sc FROM m3
        |       ORDER BY sc DESC, id LIMIT 1)
        |SELECT 1 AS sel_rank, id, round(rel, 6) AS rel,
        |  round(0.7 * rel, 6) AS score FROM p1
        |UNION ALL SELECT 2, id, round(rel, 6), round(sc, 6) FROM p2
        |UNION ALL SELECT 3, id, round(rel, 6), round(sc, 6) FROM p3
        |UNION ALL SELECT 4, id, round(rel, 6), round(sc, 6) FROM p4
        |ORDER BY sel_rank""".stripMargin,

    "sim_silhouette" ->
      """WITH x AS (SELECT vec_id, vec_id % 5 AS cluster, CAST(i AS INT) AS i,
        |        CAST(embedding[i+1] AS DOUBLE) AS v
        |       FROM embeddings, range(64) r(i)
        |       WHERE len(embedding) = 64),
        |c AS (SELECT cluster AS oc, i, avg(v) AS cv FROM x GROUP BY 1, 2),
        |d AS (SELECT x.vec_id, x.cluster, c.oc,
        |        sqrt(sum((x.v - c.cv) * (x.v - c.cv))) AS dist
        |       FROM x JOIN c ON x.i = c.i GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, cluster,
        |        min(CASE WHEN cluster = oc THEN dist END) AS a,
        |        min(CASE WHEN cluster <> oc THEN dist END) AS b
        |       FROM d GROUP BY 1, 2),
        |s AS (SELECT cluster, CASE WHEN b IS NULL THEN NULL
        |        WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
        |        ELSE CAST(0 AS DOUBLE) END AS sil FROM ab)
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
        | round(avg(sil), 6) AS avg_silhouette
        |FROM s GROUP BY 1 ORDER BY cluster""".stripMargin,

    // same moment decomposition: SSW = sum(ssq - nj*|cj|^2),
    // SSB = sum(nj*|cj|^2) - n*|cbar|^2
    "sim_ch_index" ->
      """WITH x AS (SELECT vec_id % 5 AS cluster, CAST(i AS INT) AS i,
        |        CAST(embedding[i+1] AS DOUBLE) AS v
        |       FROM embeddings, range(64) r(i)
        |       WHERE len(embedding) = 64),
        |sl AS (SELECT cluster, i, CAST(count(*) AS BIGINT) AS n,
        |        sum(v) AS s, sum(v * v) AS ss FROM x GROUP BY 1, 2),
        |pc AS (SELECT cluster, CAST(max(n) AS BIGINT) AS nj,
        |        sum(ss) AS ssq, sum(s * s / n) AS njc2 FROM sl GROUP BY 1),
        |gc AS (SELECT coalesce(sum(ts * ts / tn), 0) AS nc2 FROM
        |  (SELECT i, sum(s) AS ts, CAST(sum(n) AS BIGINT) AS tn FROM sl
        |   GROUP BY 1)),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(nj) AS BIGINT) AS n,
        |  coalesce(sum(ssq - njc2), 0) AS ssw,
        |  coalesce(sum(njc2), 0) AS sbp FROM pc)
        |SELECT k, n, round(sbp - gc.nc2, 6) AS ssb, round(ssw, 6) AS ssw,
        | CASE WHEN k < 2 OR n <= k OR ssw <= 0 THEN NULL
        |  ELSE round(((sbp - gc.nc2) / (k - 1))
        |    / (ssw / CAST(n - k AS DOUBLE)), 6) END AS ch
        |FROM t, gc""".stripMargin,

    "eval_isotonic" ->
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE) / 96 AS s,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN 1 ELSE 0 END AS y
        |       FROM documents),
        |b AS (SELECT greatest(0, least(CAST(floor(s * 10) AS INT), 9)) AS bin,
        |        CAST(count(*) AS BIGINT) AS n, avg(s) AS avg_s,
        |        CAST(sum(y) AS BIGINT) AS pos
        |       FROM d GROUP BY 1),
        |iv AS (SELECT h.bin AS h, k.bin AS k,
        |        sum(m.pos) / CAST(sum(m.n) AS DOUBLE) AS a
        |       FROM b h JOIN b k ON k.bin >= h.bin
        |       JOIN b m ON m.bin BETWEEN h.bin AND k.bin
        |       GROUP BY 1, 2),
        |mn AS (SELECT iv.h, i.bin AS i, min(iv.a) AS v
        |       FROM iv JOIN b i ON iv.h <= i.bin AND iv.k >= i.bin
        |       GROUP BY 1, 2),
        |f AS (SELECT i AS bin, max(v) AS pav FROM mn GROUP BY 1)
        |SELECT b.bin, b.n, round(b.avg_s, 6) AS avg_score,
        | round(b.pos / CAST(b.n AS DOUBLE), 6) AS raw_rate,
        | round(f.pav, 6) AS pav_rate
        |FROM b JOIN f ON b.bin = f.bin ORDER BY b.bin""".stripMargin,

    "eval_bleu_prec" ->
      """WITH base AS (SELECT doc_id,
        |        string_split_regex(trim(text), '\s+') AS rt FROM documents),
        |p AS (SELECT doc_id, rt, list_reverse(list_slice(rt, 1,
        |        CAST(ceil(len(rt) * CAST(0.8 AS DOUBLE)) AS INT))) AS ct
        |      FROM base),
        |cg AS (SELECT doc_id, CAST(nn.n AS INT) AS n,
        |        unnest(list_transform(generate_series(1, len(ct) - nn.n + 1),
        |          i -> array_to_string(list_slice(ct, i, i + nn.n - 1), ' '))) AS g
        |       FROM p, range(1, 5) nn(n)),
        |rg AS (SELECT doc_id, CAST(nn.n AS INT) AS n,
        |        unnest(list_transform(generate_series(1, len(rt) - nn.n + 1),
        |          i -> array_to_string(list_slice(rt, i, i + nn.n - 1), ' '))) AS g
        |       FROM p, range(1, 5) nn(n)),
        |cc AS (SELECT doc_id, n, g, count(*) AS c FROM cg GROUP BY 1, 2, 3),
        |rc AS (SELECT doc_id, n, g, count(*) AS c FROM rg GROUP BY 1, 2, 3),
        |cl AS (SELECT cc.n, sum(least(cc.c, rc.c)) AS clipped
        |       FROM cc JOIN rc ON cc.doc_id = rc.doc_id AND cc.n = rc.n
        |         AND cc.g = rc.g GROUP BY 1),
        |tt AS (SELECT CAST(nn.n AS INT) AS n,
        |        sum(greatest(len(ct) - nn.n + 1, 0)) AS total
        |       FROM p, range(1, 5) nn(n) GROUP BY 1)
        |SELECT tt.n, CAST(coalesce(cl.clipped, 0) AS BIGINT) AS clipped,
        | CAST(tt.total AS BIGINT) AS total,
        | round(coalesce(cl.clipped, 0) / CAST(tt.total AS DOUBLE), 6) AS p_n
        |FROM tt LEFT JOIN cl ON tt.n = cl.n ORDER BY tt.n""".stripMargin,

    "eval_bleu" ->
      """WITH base AS (SELECT doc_id,
        |        string_split_regex(trim(text), '\s+') AS rt FROM documents),
        |p AS (SELECT doc_id, rt, list_reverse(list_slice(rt, 1,
        |        CAST(ceil(len(rt) * CAST(0.8 AS DOUBLE)) AS INT))) AS ct
        |      FROM base),
        |cg AS (SELECT doc_id, CAST(nn.n AS INT) AS n,
        |        unnest(list_transform(generate_series(1, len(ct) - nn.n + 1),
        |          i -> array_to_string(list_slice(ct, i, i + nn.n - 1), ' '))) AS g
        |       FROM p, range(1, 5) nn(n)),
        |rg AS (SELECT doc_id, CAST(nn.n AS INT) AS n,
        |        unnest(list_transform(generate_series(1, len(rt) - nn.n + 1),
        |          i -> array_to_string(list_slice(rt, i, i + nn.n - 1), ' '))) AS g
        |       FROM p, range(1, 5) nn(n)),
        |cc AS (SELECT doc_id, n, g, count(*) AS c FROM cg GROUP BY 1, 2, 3),
        |rc AS (SELECT doc_id, n, g, count(*) AS c FROM rg GROUP BY 1, 2, 3),
        |cl AS (SELECT cc.n, sum(least(cc.c, rc.c)) AS clipped
        |       FROM cc JOIN rc ON cc.doc_id = rc.doc_id AND cc.n = rc.n
        |         AND cc.g = rc.g GROUP BY 1),
        |tt AS (SELECT CAST(nn.n AS INT) AS n,
        |        sum(greatest(len(ct) - nn.n + 1, 0)) AS total
        |       FROM p, range(1, 5) nn(n) GROUP BY 1),
        |pr AS (SELECT tt.n, coalesce(cl.clipped, 0) AS clipped,
        |        coalesce(cl.clipped, 0) / CAST(tt.total AS DOUBLE) AS pn
        |       FROM tt LEFT JOIN cl ON tt.n = cl.n),
        |ag AS (SELECT min(clipped) AS minc,
        |        sum(ln(pn)) FILTER (WHERE pn > 0) AS logsum FROM pr),
        |lens AS (SELECT CAST(sum(len(ct)) AS BIGINT) AS cand_tokens,
        |          CAST(sum(len(rt)) AS BIGINT) AS ref_tokens FROM p)
        |SELECT CASE WHEN lens.cand_tokens > 0 AND ag.minc > 0 THEN
        |   round(exp(least(CAST(0 AS DOUBLE),
        |     1 - lens.ref_tokens / CAST(lens.cand_tokens AS DOUBLE))) *
        |     exp(ag.logsum / 4), 6) ELSE CAST(0 AS DOUBLE) END AS bleu,
        | CASE WHEN lens.cand_tokens > 0 THEN
        |   round(exp(least(CAST(0 AS DOUBLE),
        |     1 - lens.ref_tokens / CAST(lens.cand_tokens AS DOUBLE))), 6)
        |   ELSE CAST(0 AS DOUBLE) END AS bp,
        | lens.cand_tokens, lens.ref_tokens
        |FROM ag, lens""".stripMargin,

    "eval_auc_by_source" ->
      """WITH d AS (SELECT source AS g, CAST(n_chars % 97 AS DOUBLE) / 96 AS s,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN 1 ELSE 0 END AS y
        |       FROM documents),
        |h AS (SELECT g, s, count(*) AS c, sum(y) AS pos FROM d GROUP BY 1, 2),
        |rk AS (SELECT g, pos,
        |        sum(c) OVER (PARTITION BY g ORDER BY s)
        |          - (c + 1) / CAST(2 AS DOUBLE) + 1 AS r
        |       FROM h),
        |a AS (SELECT g, sum(pos * r) AS rpos, sum(pos) AS np FROM rk GROUP BY 1),
        |t AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |        round(avg((s - y) * (s - y)), 6) AS brier
        |       FROM d GROUP BY 1)
        |SELECT a.g AS grp,
        | CASE WHEN np > 0 AND n > np THEN
        |   round((rpos - np * (np + 1) / 2) / (np * (n - np)), 6) END AS auc,
        | t.brier, CAST(np AS BIGINT) AS n_pos, CAST(n - np AS BIGINT) AS n_neg
        |FROM a JOIN t ON a.g = t.g ORDER BY grp""".stripMargin,

    "eval_brier_decomp" ->
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE) / 96 AS s,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN 1.0 ELSE 0.0 END AS y
        |       FROM documents),
        |per AS (SELECT greatest(0, least(CAST(floor(s * 10) AS INT), 9)) AS b,
        |        CAST(count(*) AS BIGINT) AS n, sum(s) AS ss, sum(y) AS sy,
        |        sum((s - y) * (s - y)) AS sq FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n, sum(sy) AS ty,
        |       sum(sq) AS tsq,
        |       sum(n * (ss / n - sy / n) * (ss / n - sy / n)) AS rel,
        |       sum(n * abs(ss / n - sy / n)) AS ece,
        |       sum(n * (sy / n) * (sy / n)) AS syk2 FROM per)
        |SELECT n, round(tsq / n, 6) AS brier, round(ece / n, 6) AS ece,
        | round(rel / n, 6) AS reliability,
        | round(syk2 / n - (ty / n) * (ty / n), 6) AS resolution,
        | round((ty / n) * (1 - ty / n), 6) AS uncertainty,
        | round(tsq / n - (rel / n - (syk2 / n - (ty / n) * (ty / n))
        |   + (ty / n) * (1 - ty / n)), 6) AS residual
        |FROM t""".stripMargin,

    "eval_confusion" ->
      """WITH d AS (SELECT lang AS y,
        |        CASE WHEN doc_id % 4 = 0 THEN 'en' ELSE lang END AS p
        |       FROM documents),
        |cells AS (SELECT y, p, CAST(count(*) AS BIGINT) AS c
        |          FROM d GROUP BY 1, 2),
        |cls AS (SELECT y AS cls FROM cells UNION SELECT p FROM cells),
        |tc AS (SELECT y AS cls, CAST(sum(c) AS BIGINT) AS n_true
        |       FROM cells GROUP BY 1),
        |pc AS (SELECT p AS cls, CAST(sum(c) AS BIGINT) AS n_pred
        |       FROM cells GROUP BY 1),
        |tp AS (SELECT y AS cls, CAST(c AS BIGINT) AS tp FROM cells
        |       WHERE y = p),
        |per AS (SELECT cls.cls, coalesce(tc.n_true, 0) AS n_true,
        |        coalesce(pc.n_pred, 0) AS n_pred, coalesce(tp.tp, 0) AS tp
        |       FROM cls LEFT JOIN tc USING (cls) LEFT JOIN pc USING (cls)
        |       LEFT JOIN tp USING (cls)),
        |m AS (SELECT cls, n_true, n_pred, tp,
        |        CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred END
        |          AS pr,
        |        CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true END
        |          AS rc
        |       FROM per),
        |m2 AS (SELECT *, CASE WHEN pr IS NOT NULL AND rc IS NOT NULL
        |          AND pr + rc > 0 THEN 2.0 * pr * rc / (pr + rc) END AS f1
        |       FROM m),
        |rows1 AS (SELECT cls, n_true, n_pred, tp, round(pr, 6) AS precision,
        |        round(rc, 6) AS recall, round(f1, 6) AS f1 FROM m2),
        |s AS (SELECT CAST(sum(n_true) AS BIGINT) AS n,
        |        CAST(sum(tp) AS BIGINT) AS tps,
        |        avg(coalesce(pr, 0.0)) AS mp, avg(coalesce(rc, 0.0)) AS mr,
        |        avg(coalesce(f1, 0.0)) AS mf FROM m2)
        |SELECT * FROM rows1
        |UNION ALL
        |SELECT '(macro)', n, n, tps, round(mp, 6), round(mr, 6),
        | round(mf, 6) FROM s
        |UNION ALL
        |SELECT '(micro)', n, n, tps, round(CAST(tps AS DOUBLE) / n, 6),
        | round(CAST(tps AS DOUBLE) / n, 6),
        | round(CAST(tps AS DOUBLE) / n, 6) FROM s
        |ORDER BY cls""".stripMargin,

    "eval_regression_metrics" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS y,
        |        CAST(n_chars + (doc_id % 21) - 10 AS DOUBLE) AS p
        |       FROM documents),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(count(*) FILTER (y <> 0) AS BIGINT) AS n_mape,
        |        sum(p - y) AS se, sum(abs(p - y)) AS sae,
        |        sum((p - y) * (p - y)) AS sse,
        |        sum(y) AS sy, sum(y * y) AS syy,
        |        sum(CASE WHEN y <> 0 THEN abs(p - y) / abs(y) END) AS sape
        |       FROM d)
        |SELECT n, n_mape,
        | CASE WHEN n > 0 THEN round(se / n, 6) END AS bias,
        | CASE WHEN n > 0 THEN round(sae / n, 6) END AS mae,
        | CASE WHEN n > 0 THEN round(sqrt(sse / n), 6) END AS rmse,
        | CASE WHEN n_mape > 0 THEN round(sape / n_mape, 6) END AS mape,
        | CASE WHEN syy - sy * sy / n > 0
        |      THEN round(1.0 - sse / (syy - sy * sy / n), 6) END AS r2
        |FROM a""".stripMargin,

    "pipeline_topk_churn" ->
      """WITH d AS (SELECT doc_id AS id,
        |        CAST(n_chars % 97 AS DOUBLE) / 96 AS sa,
        |        CAST(n_chars % 89 AS DOUBLE) / 88 AS sb FROM documents),
        |ra AS (SELECT id, row_number() OVER (ORDER BY sa DESC, id) AS r
        |       FROM d),
        |rb AS (SELECT id, row_number() OVER (ORDER BY sb DESC, id) AS r
        |       FROM d),
        |bt AS (SELECT CAST(count(*) AS BIGINT) AS n_both
        |       FROM ra JOIN rb USING (id)
        |       WHERE ra.r <= 1000 AND rb.r <= 1000),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
        |-- denominator 2*min(k,n) - n_both: n < k means both top sets
        |-- are the full table, actual overlap 1.0 (ADVICE r13)
        |SELECT 1000 AS k, n, n_both,
        | CASE WHEN n > 0 THEN
        |   round(CAST(n_both AS DOUBLE) / (2 * least(1000, n) - n_both), 6)
        |   END AS jaccard,
        | CASE WHEN n > 0 THEN round(1000.0 / n, 6) END
        |   AS expected_random
        |FROM bt, nn""".stripMargin,

    "eval_ece_by_source" ->
      """WITH d AS (SELECT source AS grp,
        |        CAST(n_chars % 97 AS DOUBLE) / 96 AS s,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN 1.0 ELSE 0.0 END AS y
        |       FROM documents),
        |per AS (SELECT grp,
        |        greatest(0, least(CAST(floor(s * 10) AS INT), 9)) AS b,
        |        CAST(count(*) AS BIGINT) AS n, sum(s) AS ss,
        |        sum(y) AS sy, sum((s - y) * (s - y)) AS sq
        |       FROM d GROUP BY 1, 2)
        |SELECT grp, CAST(sum(n) AS BIGINT) AS n,
        | round(sum(n * abs(ss / n - sy / n)) / sum(n), 6) AS ece,
        | round(sum(sq) / sum(n), 6) AS brier
        |FROM per GROUP BY grp ORDER BY grp""".stripMargin,

    "eval_spiegelhalter" ->
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE) / 96 AS p,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN 1.0 ELSE 0.0 END AS y
        |       FROM documents WHERE n_chars IS NOT NULL),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        sum((y - p) * (1 - 2 * p)) AS num,
        |        sum((1 - 2 * p) * (1 - 2 * p) * p * (1 - p)) AS var
        |       FROM d)
        |SELECT n,
        | CASE WHEN var > 0 THEN round(num / sqrt(var), 6) END AS z,
        | CASE WHEN n >= 20 AND var > 0
        |      THEN abs(round(num / sqrt(var), 6)) > 1.96 END AS reject_05
        |FROM a""".stripMargin,

    "eval_hosmer" ->
      """WITH d AS (SELECT CAST(n_chars % 97 AS DOUBLE) / 96 AS p,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN 1.0 ELSE 0.0 END AS y
        |       FROM documents WHERE n_chars IS NOT NULL),
        |per AS (SELECT greatest(0, least(CAST(floor(p * 10) AS INT), 9)) AS b,
        |        CAST(count(*) AS BIGINT) AS n, sum(p) AS e, sum(y) AS o
        |       FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n,
        |        CAST(count(*) AS BIGINT) AS g,
        |        CAST(sum(CASE WHEN e / n > 0 AND e / n < 1
        |                      THEN 1 ELSE 0 END) AS BIGINT) AS gu,
        |        sum(CASE WHEN e / n > 0 AND e / n < 1 THEN
        |              (o - e) * (o - e) / (n * (e / n) * (1 - e / n)) END)
        |          AS hl
        |       FROM per)
        |SELECT n, gu AS g_used, g - gu AS g_skipped,
        | round(coalesce(hl, 0.0), 6) AS hl,
        | CASE WHEN gu >= 3 THEN gu - 2 END AS df,
        | CASE WHEN gu >= 3 THEN coalesce(hl, 0.0) >
        |   CASE WHEN gu - 2 = 1 THEN 3.841458820694124
        |        WHEN gu - 2 = 2 THEN 5.991464547107979
        |        WHEN gu - 2 = 3 THEN 7.814727903251179
        |        WHEN gu - 2 = 4 THEN 9.487729036781154
        |        ELSE (gu - 2) * pow(1 - 2.0 / (9 * (gu - 2)) +
        |          1.644853626951473 * sqrt(2.0 / (9 * (gu - 2))), 3) END
        |      END AS reject_05
        |FROM t""".stripMargin,

    // the per-slice AUC oracle with the slice = the per-nibble fold rule
    "eval_cv_auc" ->
      s"""WITH d AS (SELECT CAST(${duckHex16("CAST(source AS VARCHAR)")} % 5
        |          AS INT) AS g,
        |        CAST(n_chars % 97 AS DOUBLE) / 96 AS s,
        |        CASE WHEN doc_id % 3 = 0 OR n_chars % 5 = 0
        |             THEN 1 ELSE 0 END AS y
        |       FROM documents),
        |h AS (SELECT g, s, count(*) AS c, sum(y) AS pos FROM d GROUP BY 1, 2),
        |rk AS (SELECT g, pos,
        |        sum(c) OVER (PARTITION BY g ORDER BY s)
        |          - (c + 1) / CAST(2 AS DOUBLE) + 1 AS r
        |       FROM h),
        |a AS (SELECT g, sum(pos * r) AS rpos, sum(pos) AS np FROM rk GROUP BY 1),
        |t AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |        round(avg((s - y) * (s - y)), 6) AS brier
        |       FROM d GROUP BY 1)
        |SELECT a.g AS grp,
        | CASE WHEN np > 0 AND n > np THEN
        |   round((rpos - np * (np + 1) / 2) / (np * (n - np)), 6) END AS auc,
        | t.brier, CAST(np AS BIGINT) AS n_pos, CAST(n - np AS BIGINT) AS n_neg
        |FROM a JOIN t ON a.g = t.g ORDER BY grp""".stripMargin,

    "sim_cluster_agreement" ->
      """WITH cells AS (SELECT vec_id % 5 AS c, label AS l,
        |        CAST(count(*) AS BIGINT) AS n
        |       FROM embeddings WHERE label IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cells),
        |mc AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM cells GROUP BY 1),
        |ml AS (SELECT l, CAST(sum(n) AS BIGINT) AS nl FROM cells GROUP BY 1),
        |pure AS (SELECT sum(mx) AS p, CAST(count(*) AS BIGINT) AS k
        |         FROM (SELECT c, max(n) AS mx FROM cells GROUP BY 1)),
        |idx AS (SELECT sum(n * (n - 1) / 2.0) AS idx FROM cells),
        |hc AS (SELECT sum(-(nc / t.t) * ln(nc / t.t)) AS hc,
        |        sum(nc * (nc - 1) / 2.0) AS a FROM mc, t),
        |hl AS (SELECT sum(-(nl / t.t) * ln(nl / t.t)) AS hl,
        |        sum(nl * (nl - 1) / 2.0) AS b,
        |        CAST(count(*) AS BIGINT) AS kl FROM ml, t),
        |mi AS (SELECT sum((n / t.t) *
        |         ln(t.t * n / (CAST(nc AS DOUBLE) * nl))) AS mi
        |       FROM cells JOIN mc USING (c) JOIN ml USING (l), t)
        |SELECT CAST(t.t AS BIGINT) AS n, pure.k AS n_clusters,
        | hl.kl AS n_labels,
        | round(pure.p / t.t, 6) AS purity,
        | round(mi.mi / sqrt(hc.hc * hl.hl), 6) AS nmi,
        | round((idx.idx - a * b / (t.t * (t.t - 1) / 2.0))
        |   / ((a + b) / 2.0 - a * b / (t.t * (t.t - 1) / 2.0)), 6) AS ari
        |FROM t, pure, idx, hc, hl, mi""".stripMargin,

    "eval_conformal" ->
      """WITH d AS (SELECT CAST(n_chars AS DOUBLE) AS s FROM documents
        |           WHERE n_chars IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM d),
        |a AS (SELECT CAST(v.alpha AS DOUBLE) AS alpha,
        |        CAST(ceil((n.n + 1) * (1 - CAST(v.alpha AS DOUBLE)))
        |          AS BIGINT) AS k,
        |        CAST(n.n AS BIGINT) AS n
        |       FROM (VALUES (0.01), (0.05), (0.1), (0.25)) v(alpha), n),
        |r AS (SELECT s, row_number() OVER (ORDER BY s) AS rn FROM d)
        |SELECT a.alpha, a.k, a.n, r.s AS threshold
        |FROM a LEFT JOIN r ON r.rn = a.k ORDER BY alpha""".stripMargin,

    "eval_chrf" ->
      """WITH base AS (SELECT doc_id,
        |        string_split_regex(trim(text), '\s+') AS rt, text FROM documents),
        |p AS (SELECT doc_id,
        |        regexp_replace(array_to_string(list_reverse(list_slice(rt, 1,
        |          CAST(ceil(len(rt) * CAST(0.8 AS DOUBLE)) AS INT))), ' '),
        |          '\s+', '', 'g') AS cs,
        |        regexp_replace(text, '\s+', '', 'g') AS rs
        |      FROM base),
        |cg AS (SELECT doc_id, CAST(nn.n AS INT) AS n,
        |        unnest(list_transform(generate_series(1, length(cs) - nn.n + 1),
        |          i -> substr(cs, CAST(i AS INT), CAST(nn.n AS INT)))) AS g
        |       FROM p, range(1, 7) nn(n)),
        |rg AS (SELECT doc_id, CAST(nn.n AS INT) AS n,
        |        unnest(list_transform(generate_series(1, length(rs) - nn.n + 1),
        |          i -> substr(rs, CAST(i AS INT), CAST(nn.n AS INT)))) AS g
        |       FROM p, range(1, 7) nn(n)),
        |cc AS (SELECT doc_id, n, g, count(*) AS c FROM cg GROUP BY 1, 2, 3),
        |rc AS (SELECT doc_id, n, g, count(*) AS c FROM rg GROUP BY 1, 2, 3),
        |cl AS (SELECT cc.n, sum(least(cc.c, rc.c)) AS clipped
        |       FROM cc JOIN rc ON cc.doc_id = rc.doc_id AND cc.n = rc.n
        |         AND cc.g = rc.g GROUP BY 1),
        |tt AS (SELECT CAST(nn.n AS INT) AS n,
        |        sum(greatest(length(cs) - nn.n + 1, 0)) AS total_cand,
        |        sum(greatest(length(rs) - nn.n + 1, 0)) AS total_ref
        |       FROM p, range(1, 7) nn(n) GROUP BY 1),
        |pr AS (SELECT tt.n, coalesce(cl.clipped, 0) AS clipped,
        |        tt.total_cand, tt.total_ref
        |       FROM tt LEFT JOIN cl ON tt.n = cl.n
        |       WHERE tt.total_cand > 0 AND tt.total_ref > 0),
        |ag AS (SELECT avg(clipped / CAST(total_cand AS DOUBLE)) AS chrp,
        |        avg(clipped / CAST(total_ref AS DOUBLE)) AS chrr,
        |        CAST(count(*) AS BIGINT) AS n_orders FROM pr)
        |SELECT CASE WHEN chrp + chrr > 0 THEN
        |   round(5 * chrp * chrr / (4 * chrp + chrr), 6)
        |   ELSE CAST(0 AS DOUBLE) END AS chrf,
        | round(coalesce(chrp, 0), 6) AS chrp,
        | round(coalesce(chrr, 0), 6) AS chrr, n_orders
        |FROM ag""".stripMargin,

    // the full Koehn machinery restated: per-doc per-order clipped
    // counts for BOTH systems, the md5 Poisson(1) coin (per-nibble
    // strpos form), per-replicate weighted corpus BLEUs, rounded
    // deltas, and the plus-one-smoothed sign count
    "eval_paired_bootstrap" -> {
      val uExpr = duckHex("CAST(d.id AS VARCHAR) || ':' || r.i", 6)
      val ordersA = (1 to 4).map(n =>
        s"ln(ca$n / CAST(ta$n AS DOUBLE))").mkString(" + ")
      val ordersB = (1 to 4).map(n =>
        s"ln(cb$n / CAST(tb$n AS DOUBLE))").mkString(" + ")
      def bleuSql(lenC: String, c: String, t: String, orders: String) =
        s"""CASE WHEN $lenC > 0
           |   AND least(${c}1, ${c}2, ${c}3, ${c}4) > 0
           |   AND ${t}1 > 0 AND ${t}2 > 0 AND ${t}3 > 0 AND ${t}4 > 0
           |  THEN exp(least(CAST(0 AS DOUBLE),
           |    1 - wlt / CAST($lenC AS DOUBLE))) * exp(($orders) / 4)
           |  ELSE CAST(0 AS DOUBLE) END""".stripMargin
      s"""WITH t0 AS (SELECT CAST(doc_id AS VARCHAR) AS id,
         |        string_split_regex(trim(text), '\\s+') AS rt
         |       FROM documents),
         |p AS (SELECT id, rt,
         |  list_slice(rt, 1, CAST(ceil(len(rt) * CAST(0.8 AS DOUBLE))
         |    AS INT)) AS ca,
         |  list_reverse(list_slice(rt, 1,
         |    CAST(ceil(len(rt) * CAST(0.8 AS DOUBLE)) AS INT))) AS cb
         | FROM t0),
         |ga AS (SELECT id, CAST(nn.n AS INT) AS n,
         |  unnest(list_transform(generate_series(1, len(ca) - nn.n + 1),
         |   i -> array_to_string(list_slice(ca, i, i + nn.n - 1), ' '))) AS g
         | FROM p, range(1, 5) nn(n)),
         |gb AS (SELECT id, CAST(nn.n AS INT) AS n,
         |  unnest(list_transform(generate_series(1, len(cb) - nn.n + 1),
         |   i -> array_to_string(list_slice(cb, i, i + nn.n - 1), ' '))) AS g
         | FROM p, range(1, 5) nn(n)),
         |gr AS (SELECT id, CAST(nn.n AS INT) AS n,
         |  unnest(list_transform(generate_series(1, len(rt) - nn.n + 1),
         |   i -> array_to_string(list_slice(rt, i, i + nn.n - 1), ' '))) AS g
         | FROM p, range(1, 5) nn(n)),
         |ac AS (SELECT id, n, g, count(*) AS c FROM ga GROUP BY 1, 2, 3),
         |bc AS (SELECT id, n, g, count(*) AS c FROM gb GROUP BY 1, 2, 3),
         |rc AS (SELECT id, n, g, count(*) AS c FROM gr GROUP BY 1, 2, 3),
         |clA AS (SELECT ac.id,
         |  ${(1 to 4).map(n => s"CAST(coalesce(sum(CASE WHEN ac.n = $n " +
              s"THEN least(ac.c, rc.c) END), 0) AS BIGINT) AS a$n")
              .mkString(", ")}
         | FROM ac JOIN rc ON ac.id = rc.id AND ac.n = rc.n AND ac.g = rc.g
         | GROUP BY 1),
         |clB AS (SELECT bc.id,
         |  ${(1 to 4).map(n => s"CAST(coalesce(sum(CASE WHEN bc.n = $n " +
              s"THEN least(bc.c, rc.c) END), 0) AS BIGINT) AS b$n")
              .mkString(", ")}
         | FROM bc JOIN rc ON bc.id = rc.id AND bc.n = rc.n AND bc.g = rc.g
         | GROUP BY 1),
         |doc AS (SELECT p.id, CAST(len(ca) AS BIGINT) AS la,
         |  CAST(len(cb) AS BIGINT) AS lb, CAST(len(rt) AS BIGINT) AS lt,
         |  ${(1 to 4).map(n => s"coalesce(a$n, 0) AS a$n").mkString(", ")},
         |  ${(1 to 4).map(n => s"coalesce(b$n, 0) AS b$n").mkString(", ")}
         | FROM p LEFT JOIN clA ON p.id = clA.id
         | LEFT JOIN clB ON p.id = clB.id),
         |reps AS (SELECT r.i AS r, d.*,
         |  $uExpr / 16777216.0 AS u
         | FROM doc d CROSS JOIN (SELECT unnest(range(199)) AS i) r),
         |wt AS (SELECT *, CASE
         |  WHEN u < 0.367879441 THEN 0 WHEN u < 0.735758882 THEN 1
         |  WHEN u < 0.919698603 THEN 2 WHEN u < 0.981011843 THEN 3
         |  WHEN u < 0.996340153 THEN 4 WHEN u < 0.999405815 THEN 5
         |  WHEN u < 0.999916758 THEN 6 WHEN u < 0.999989750 THEN 7
         |  ELSE 8 END AS w FROM reps),
         |gs AS (SELECT r, CAST(sum(w * la) AS BIGINT) AS wla,
         |  CAST(sum(w * lb) AS BIGINT) AS wlb,
         |  CAST(sum(w * lt) AS BIGINT) AS wlt,
         |  ${(1 to 4).map(n =>
              s"CAST(sum(w * a$n) AS BIGINT) AS ca$n, " +
              s"CAST(sum(w * b$n) AS BIGINT) AS cb$n, " +
              s"CAST(sum(w * greatest(la - $n + 1, 0)) AS BIGINT) AS ta$n, " +
              s"CAST(sum(w * greatest(lb - $n + 1, 0)) AS BIGINT) AS tb$n")
              .mkString(", ")}
         | FROM wt GROUP BY r),
         |rb AS (SELECT r,
         |  ${bleuSql("wla", "ca", "ta", ordersA)} AS ba,
         |  ${bleuSql("wlb", "cb", "tb", ordersB)} AS bb
         | FROM gs),
         |dd AS (SELECT round(ba - bb, 6) AS d FROM rb),
         |st AS (SELECT
         |  CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS naw,
         |  CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nbw,
         |  CAST(sum(CASE WHEN d <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS le0,
         |  CAST(sum(CASE WHEN d >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS ge0
         | FROM dd),
         |og AS (SELECT 1 AS r, CAST(sum(la) AS BIGINT) AS wla,
         |  CAST(sum(lb) AS BIGINT) AS wlb, CAST(sum(lt) AS BIGINT) AS wlt,
         |  ${(1 to 4).map(n =>
              s"CAST(sum(a$n) AS BIGINT) AS ca$n, " +
              s"CAST(sum(b$n) AS BIGINT) AS cb$n, " +
              s"CAST(sum(greatest(la - $n + 1, 0)) AS BIGINT) AS ta$n, " +
              s"CAST(sum(greatest(lb - $n + 1, 0)) AS BIGINT) AS tb$n")
              .mkString(", ")}
         | FROM doc),
         |ob AS (SELECT
         |  ${bleuSql("wla", "ca", "ta", ordersA)} AS ba,
         |  ${bleuSql("wlb", "cb", "tb", ordersB)} AS bb
         | FROM og)
         |SELECT round(ba, 6) AS bleu_a, round(bb, 6) AS bleu_b,
         | round(ba - bb, 6) AS diff_obs,
         | CAST(199 AS BIGINT) AS n_replicates,
         | naw AS n_a_wins, nbw AS n_b_wins,
         | CASE WHEN round(ba - bb, 6) > 0
         |   THEN round((le0 + 1) / CAST(200 AS DOUBLE), 6)
         |  WHEN round(ba - bb, 6) < 0
         |   THEN round((ge0 + 1) / CAST(200 AS DOUBLE), 6)
         |  ELSE NULL END AS p_value
         |FROM ob, st""".stripMargin
    },

    // the planted-construction closed form: LCS = #(i: i%5!=0, i%7!=0)
    // per doc (OOV replacements match nothing; surviving originals ARE
    // a common subsequence), kept = n - ceil(n/7)
    "eval_rouge_l" ->
      """WITH d AS (SELECT len(string_split_regex(trim(text), '\s+')) AS n
        |       FROM documents),
        |per AS (SELECT n,
        |  n - ceil(CAST(n AS DOUBLE) / 7) AS kept,
        |  n - ceil(CAST(n AS DOUBLE) / 5) - ceil(CAST(n AS DOUBLE) / 7)
        |    + ceil(CAST(n AS DOUBLE) / 35) AS lcs FROM d),
        |sc AS (SELECT
        |  CASE WHEN kept > 0 AND n > 0 THEN lcs / kept END AS p,
        |  CASE WHEN kept > 0 AND n > 0 THEN lcs / CAST(n AS DOUBLE) END AS r
        | FROM per)
        |SELECT CAST(count(p) AS BIGINT) AS n_pairs,
        | CAST(count(*) - count(p) AS BIGINT) AS n_skipped,
        | round(avg(p), 6) AS avg_p, round(avg(r), 6) AS avg_r,
        | round(avg(CASE WHEN p IS NULL THEN NULL WHEN p + r > 0
        |   THEN 2 * p * r / (p + r) ELSE CAST(0 AS DOUBLE) END), 6) AS avg_f
        |FROM sc""".stripMargin,

    "eval_rouge_n" ->
      """WITH base AS (SELECT doc_id,
        |        string_split_regex(trim(text), '\s+') AS rt FROM documents),
        |p AS (SELECT doc_id, rt, list_reverse(list_slice(rt, 1,
        |        CAST(ceil(len(rt) * CAST(0.8 AS DOUBLE)) AS INT))) AS ct
        |      FROM base),
        |cg AS (SELECT doc_id, CAST(nn.n AS INT) AS n,
        |        unnest(list_transform(generate_series(1, len(ct) - nn.n + 1),
        |          i -> array_to_string(list_slice(ct, i, i + nn.n - 1), ' '))) AS g
        |       FROM p, range(1, 3) nn(n)),
        |rg AS (SELECT doc_id, CAST(nn.n AS INT) AS n,
        |        unnest(list_transform(generate_series(1, len(rt) - nn.n + 1),
        |          i -> array_to_string(list_slice(rt, i, i + nn.n - 1), ' '))) AS g
        |       FROM p, range(1, 3) nn(n)),
        |cc AS (SELECT doc_id, n, g, count(*) AS c FROM cg GROUP BY 1, 2, 3),
        |rc AS (SELECT doc_id, n, g, count(*) AS c FROM rg GROUP BY 1, 2, 3),
        |cl AS (SELECT cc.doc_id, cc.n, sum(least(cc.c, rc.c)) AS cl
        |       FROM cc JOIN rc ON cc.doc_id = rc.doc_id AND cc.n = rc.n
        |         AND cc.g = rc.g GROUP BY 1, 2),
        |pairs AS (SELECT doc_id, CAST(nn.n AS INT) AS n,
        |        greatest(len(ct) - nn.n + 1, 0) AS cn,
        |        greatest(len(rt) - nn.n + 1, 0) AS rn
        |       FROM p, range(1, 3) nn(n)),
        |sc AS (SELECT pairs.n, pairs.cn, pairs.rn,
        |        coalesce(cl.cl, 0) AS cl
        |       FROM pairs LEFT JOIN cl
        |         ON cl.doc_id = pairs.doc_id AND cl.n = pairs.n),
        |f AS (SELECT n, rn,
        |  CASE WHEN rn > 0 THEN CASE WHEN cn > 0
        |   THEN cl / CAST(cn AS DOUBLE) ELSE 0.0 END END AS p,
        |  CASE WHEN rn > 0 THEN cl / CAST(rn AS DOUBLE) END AS r
        | FROM sc),
        |g AS (SELECT n, rn, p, r,
        |  CASE WHEN p IS NULL THEN NULL WHEN p + r > 0
        |   THEN 2.0 * p * r / (p + r) ELSE 0.0 END AS f1 FROM f)
        |SELECT n,
        | CAST(sum(CASE WHEN rn > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        | CAST(sum(CASE WHEN rn > 0 THEN 0 ELSE 1 END) AS BIGINT)
        |   AS n_skipped,
        | round(avg(p), 6) AS avg_p, round(avg(r), 6) AS avg_r,
        | round(avg(f1), 6) AS avg_f
        |FROM g GROUP BY n ORDER BY n""".stripMargin,

    "eval_wer" ->
      """WITH d AS (SELECT CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS n
        |   FROM documents WHERE text IS NOT NULL),
        |per AS (SELECT n,
        |  ceil(CAST(n AS DOUBLE) / 7) + ceil(CAST(n AS DOUBLE) / 5)
        |    - ceil(CAST(n AS DOUBLE) / 35) AS ed FROM d WHERE n > 0)
        |SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM per) AS n_pairs,
        | (SELECT CAST(count(*) AS BIGINT) FROM d WHERE n = 0) AS n_skipped,
        | CAST(sum(ed) AS BIGINT) AS total_edits,
        | CAST(sum(n) AS BIGINT) AS total_ref_words,
        | round(sum(ed) / CAST(sum(n) AS DOUBLE), 6) AS wer,
        | round(avg(ed / CAST(n AS DOUBLE)), 6) AS avg_sentence_wer
        |FROM per""".stripMargin,

    // the full 20-step MM recursion unrolled lockstep with the engine
    // (the eval_logreg discipline): same uniform start, same per-step
    // normalization, same fixed iteration count
    "eval_bradley_terry" -> {
      val iters = 20
      // AS MATERIALIZED is load-bearing: each step references the
      // previous one 3 times, and DuckDB's default CTE inlining would
      // re-expand the chain ~3^20 times (measured: "too many open
      // files" from re-opening the base parquet)
      val chain = (1 to iters).map { t =>
        s"""it$t AS MATERIALIZED (SELECT sym.i, w.wi,
           |  coalesce(w.wi, CAST(0 AS DOUBLE))
           |    / sum(sym.nij / (a.s + b.s)) AS raw
           | FROM sym JOIN it${t - 1}n a ON a.i = sym.i
           | JOIN it${t - 1}n b ON b.i = sym.j
           | LEFT JOIN wins w ON w.i = sym.i GROUP BY sym.i, w.wi),
           |it${t}n AS MATERIALIZED (SELECT i,
           |  raw / (SELECT sum(raw) FROM it$t) AS s
           | FROM it$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH m AS (SELECT
         |  CASE WHEN a.n_chars > b.n_chars THEN a.lang ELSE b.lang END AS w,
         |  CASE WHEN a.n_chars > b.n_chars THEN b.lang ELSE a.lang END AS l
         | FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         | WHERE a.n_chars <> b.n_chars),
         |g AS (SELECT w AS i, l AS j, CAST(count(*) AS DOUBLE) AS nij
         | FROM m WHERE w <> l GROUP BY 1, 2),
         |sym AS MATERIALIZED (SELECT i, j, sum(nij) AS nij FROM
         |  (SELECT i, j, nij FROM g UNION ALL SELECT j, i, nij FROM g)
         | GROUP BY 1, 2),
         |wins AS MATERIALIZED (SELECT i, sum(nij) AS wi FROM g GROUP BY 1),
         |games AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ng FROM sym
         | GROUP BY 1),
         |k AS (SELECT CAST(count(DISTINCT i) AS DOUBLE) AS k FROM sym),
         |it0n AS MATERIALIZED (SELECT DISTINCT sym.i,
         |  CAST(1 AS DOUBLE) / k.k AS s
         | FROM sym, k),
         |$chain
         |SELECT f.i AS item,
         | CAST(coalesce(w.wi, 0) AS BIGINT) AS n_wins, games.ng AS n_games,
         | round(f.s, 6) AS strength
         |FROM it${iters}n f LEFT JOIN wins w ON w.i = f.i
         |JOIN games ON games.i = f.i
         |ORDER BY item""".stripMargin
    },

    // majority tournament + directed-triangle algebra restated directly
    "eval_pref_cycles" ->
      """WITH m AS (SELECT
        |  CASE WHEN a.n_chars > b.n_chars THEN a.lang ELSE b.lang END AS w,
        |  CASE WHEN a.n_chars > b.n_chars THEN b.lang ELSE a.lang END AS l
        | FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        | WHERE a.n_chars <> b.n_chars),
        |pair AS (SELECT least(w, l) AS a, greatest(w, l) AS b,
        |  CAST(sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT) AS wa,
        |  CAST(count(*) - sum(CASE WHEN w < l THEN 1 ELSE 0 END) AS BIGINT)
        |    AS wb
        | FROM m WHERE w <> l GROUP BY 1, 2),
        |edges AS (SELECT CASE WHEN wa > wb THEN a ELSE b END AS u,
        |   CASE WHEN wa > wb THEN b ELSE a END AS v
        |  FROM pair WHERE wa <> wb),
        |items AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n FROM
        |  (SELECT a AS i FROM pair UNION ALL SELECT b FROM pair)),
        |und AS (SELECT least(u, v) AS a, greatest(u, v) AS b FROM edges),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS t FROM und e1
        |  JOIN und e2 ON e1.b = e2.a
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |cyc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM edges d1
        |  JOIN edges d2 ON d1.v = d2.u
        |  JOIN edges d3 ON d2.v = d3.u AND d3.v = d1.u
        |  WHERE d1.u < d2.u AND d1.u < d3.u)
        |SELECT items.n AS n_items,
        | (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_decided_pairs,
        | tri.t AS n_triangles, cyc.c AS n_cycles,
        | CASE WHEN tri.t = 0 THEN NULL
        |  ELSE round(CAST(cyc.c AS DOUBLE) / tri.t, 6) END AS cycle_rate
        |FROM items, tri, cyc""".stripMargin,

    "pipeline_neyman" ->
      """WITH s AS (SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_rows,
        |        coalesce(stddev_samp(CAST(n_chars AS DOUBLE)), 0) AS sd
        |       FROM documents GROUP BY 1),
        |w AS (SELECT *, n_rows * sd AS nhsh FROM s),
        |t AS (SELECT sum(nhsh) AS tot FROM w),
        |r AS (SELECT stratum, n_rows, sd,
        |        CASE WHEN t.tot > 0 THEN nhsh / t.tot END AS wt,
        |        CASE WHEN t.tot > 0 THEN 1000 * (nhsh / t.tot) END AS raw
        |       FROM w, t),
        |f AS (SELECT *, floor(raw) AS fl, raw - floor(raw) AS frac FROM r),
        |d AS (SELECT sum(fl) AS flsum FROM f),
        |rk AS (SELECT stratum,
        |        row_number() OVER (ORDER BY frac DESC, stratum) AS rnk FROM f)
        |SELECT f.stratum, f.n_rows, round(f.sd, 6) AS sd,
        | round(f.wt, 6) AS weight,
        | CASE WHEN f.wt IS NOT NULL THEN CAST(f.fl +
        |   CASE WHEN rk.rnk <= 1000 - d.flsum THEN 1 ELSE 0 END AS BIGINT)
        | END AS alloc
        |FROM f JOIN rk ON f.stratum = rk.stratum, d ORDER BY f.stratum""".stripMargin,

    "text_kn_ppl" ->
      """WITH t0 AS (SELECT lang AS grp,
        |        string_split_regex(trim(lower(text)), '\s+') AS w
        |       FROM documents),
        |pos AS (SELECT grp,
        |        unnest(list_slice(w, 1, len(w) - 1)) AS w1,
        |        unnest(list_slice(w, 2, len(w))) AS w2
        |       FROM t0 WHERE len(w) >= 2),
        |occ AS (SELECT grp, w1, w2, count(*) AS cg FROM pos GROUP BY 1, 2, 3),
        |bi AS (SELECT w1, w2, count(*) AS cb FROM pos GROUP BY 1, 2),
        |cv AS (SELECT w1, sum(cb) AS cv, count(*) AS n1fwd FROM bi GROUP BY 1),
        |cw AS (SELECT w2, count(*) AS n1back FROM bi GROUP BY 1),
        |nb AS (SELECT count(*) AS n1all FROM bi),
        |p AS (SELECT bi.w1, bi.w2,
        |        greatest(bi.cb - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / cv.cv
        |          + CAST(0.75 AS DOUBLE) * cv.n1fwd / cv.cv
        |            * (cw.n1back / CAST(nb.n1all AS DOUBLE)) AS p
        |       FROM bi JOIN cv ON bi.w1 = cv.w1
        |       JOIN cw ON bi.w2 = cw.w2, nb)
        |SELECT occ.grp AS lang, CAST(sum(occ.cg) AS BIGINT) AS n_bigrams,
        | round(sum(occ.cg * ln(p.p)) / sum(occ.cg), 6) AS avg_logp,
        | round(exp(-(sum(occ.cg * ln(p.p)) / sum(occ.cg))), 6) AS ppl
        |FROM occ JOIN p ON occ.w1 = p.w1 AND occ.w2 = p.w2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "pipeline_source_sim" ->
      """WITH t0 AS (SELECT source, unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS term FROM documents),
        |tv AS (SELECT DISTINCT source, term FROM t0),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM tv GROUP BY 1),
        |iv AS (SELECT a.source AS src_a, b.source AS src_b,
        |        CAST(count(*) AS BIGINT) AS n_common
        |       FROM tv a JOIN tv b ON a.term = b.term AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
        | round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard
        |FROM iv JOIN sz sa ON iv.src_a = sa.source
        |JOIN sz sb ON iv.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,

    // Triangles counted once each via the a<b<c three-way join over the
    // canonical (least, greatest) undirected edge set; wedges from the
    // degree table.
    "graph_triangles" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |e0 AS (SELECT DISTINCT w[i] AS src, w[i+1] AS dst
        |      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)
        |      WHERE w[i] <> w[i+1]),
        |c AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM e0),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM
        |        (SELECT a AS id FROM c UNION ALL SELECT b FROM c) GROUP BY 1),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS t
        |        FROM c e1 JOIN c e2 ON e1.b = e2.a
        |        JOIN c e3 ON e3.a = e1.a AND e3.b = e2.b),
        |wd AS (SELECT CAST(sum(d*(d-1)//2) AS BIGINT) AS nw FROM deg)
        |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
        | CAST((SELECT count(*) FROM c) AS BIGINT) AS n_edges,
        | tri.t AS n_triangles, wd.nw AS n_wedges,
        | round(CASE WHEN wd.nw > 0 THEN 3.0 * tri.t / wd.nw ELSE 0.0 END, 6)
        |   AS global_clustering
        |FROM tri CROSS JOIN wd""".stripMargin,

    "graph_assortativity" ->
      """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        |e0 AS (SELECT DISTINCT w[i] AS src, w[i+1] AS dst
        |      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i FROM ws)
        |      WHERE w[i] <> w[i+1]),
        |c AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM e0),
        |sym AS (SELECT a AS s, b AS d FROM c
        |        UNION ALL SELECT b, a FROM c),
        |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS dg FROM sym
        |        GROUP BY 1),
        |p AS (SELECT d1.dg AS ds, d2.dg AS dd FROM sym
        |      JOIN deg d1 ON d1.s = sym.s JOIN deg d2 ON d2.s = sym.d),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ds) AS DOUBLE) AS sx,
        |  CAST(sum(ds * ds) AS DOUBLE) AS sxx,
        |  CAST(sum(ds * dd) AS DOUBLE) AS sxy FROM p)
        |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
        | CASE WHEN n * sxx - sx * sx > 0
        |  THEN round((n * sxy - sx * sx) / (n * sxx - sx * sx), 6) END
        |   AS assortativity
        |FROM m""".stripMargin,

    "pipeline_reservoir" ->
      """SELECT source, doc_id, CAST(rn AS INT) AS sample_rank FROM (
        | SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |   ORDER BY md5('7' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents)
        |WHERE rn <= 3 ORDER BY source, sample_rank""".stripMargin,

    "dedup_linkage" ->
      """WITH m AS (SELECT c_custkey AS mid, c_name AS mname FROM customer),
        |f AS (SELECT c_custkey + 1000000 AS fid,
        |       'X' || substr(c_name, 2) AS fname FROM customer),
        |p AS (SELECT mid, fid, levenshtein(mname, fname) AS dist
        |      FROM m JOIN f ON abs(length(mname) - length(fname)) <= 1
        |      WHERE levenshtein(mname, fname) <= 1)
        |SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_links,
        | CAST(sum(mid) AS BIGINT) AS checksum_master,
        | CAST(sum(fid - 1000000) AS BIGINT) AS checksum_feed
        |FROM p GROUP BY 1 ORDER BY dist""".stripMargin,

    "pipeline_winsorize" ->
      """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
        |       quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem),
        |w AS (SELECT least(greatest(l_extendedprice, q.lo), q.hi) AS v,
        |       (l_extendedprice < q.lo OR l_extendedprice > q.hi) AS clipped
        |      FROM lineitem CROSS JOIN q)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        | CAST(count(*) FILTER (clipped) AS BIGINT) AS n_clipped,
        | round(avg(v), 4) AS avg_w, round(min(v), 4) AS min_w,
        | round(max(v), 4) AS max_w
        |FROM w""".stripMargin,

    "pipeline_impute" ->
      """WITH ev AS (SELECT event_id, event_type,
        |   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |m AS (SELECT event_type, quantile_cont(v, 0.5) AS med
        |      FROM ev GROUP BY 1),
        |f AS (SELECT ev.event_type, coalesce(v, m.med) AS vf,
        |       v IS NULL AS imp
        |      FROM ev JOIN m USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(*) FILTER (imp) AS BIGINT) AS n_imputed,
        | round(avg(vf), 4) AS avg_filled,
        | round(min(CASE WHEN imp THEN vf END), 4) AS fill_value
        |FROM f GROUP BY 1 ORDER BY event_type""".stripMargin,

    "pipeline_golden" ->
      """WITH src AS (SELECT user_id % 50 AS cluster, event_id AS version,
        |   CASE WHEN event_id % 3 = 0 THEN value END AS f_val,
        |   event_type AS f_type FROM events),
        |v1 AS (SELECT cluster, f_val, row_number() OVER (PARTITION BY cluster
        |    ORDER BY version DESC, f_val DESC) AS rn
        |  FROM src WHERE f_val IS NOT NULL),
        |v2 AS (SELECT cluster, f_type, row_number() OVER (PARTITION BY cluster
        |    ORDER BY version DESC, f_type DESC) AS rn
        |  FROM src WHERE f_type IS NOT NULL),
        |n AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
        |      FROM src GROUP BY 1)
        |SELECT n.cluster, round(v1.f_val, 4) AS f_val, v2.f_type,
        | n.n_members
        |FROM n LEFT JOIN v1 ON n.cluster = v1.cluster AND v1.rn = 1
        |LEFT JOIN v2 ON n.cluster = v2.cluster AND v2.rn = 1
        |ORDER BY n.cluster""".stripMargin,

    "pipeline_weighted_sample" ->
      """WITH x AS (SELECT doc_id, source, n_chars,
        |  -ln((CAST('0x' || substr(md5('7' || CAST(doc_id AS VARCHAR)), 1, 8)
        |       AS BIGINT) + 1) / 4294967297.0) / n_chars AS k
        | FROM documents WHERE n_chars > 0)
        |SELECT doc_id, source, n_chars, round(k, 6) AS aes_key
        |FROM x ORDER BY k, doc_id LIMIT 25""".stripMargin,

    "pipeline_score_norm" ->
      """SELECT source, doc_id, n_chars,
        | round((n_chars - avg(n_chars) OVER w) /
        |   stddev_samp(n_chars) OVER w, 6) AS z,
        | round((n_chars - min(n_chars) OVER w) * 1.0 /
        |   (max(n_chars) OVER w - min(n_chars) OVER w), 6) AS minmax,
        | round(percent_rank() OVER wo, 6) AS pct_rank
        |FROM documents
        |WINDOW w AS (PARTITION BY source),
        | wo AS (PARTITION BY source ORDER BY n_chars, doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Shard boundaries are engine-internal; the invariants are not:
    // zero inversions / overlaps, full accounting, exact key span.
    "pipeline_sorted_export" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
        | CAST(0 AS BIGINT) AS n_inversions, CAST(0 AS BIGINT) AS n_overlaps,
        | round(min(o_totalprice), 2) AS min_key,
        | round(max(o_totalprice), 2) AS max_key
        |FROM orders""".stripMargin,

    // identical semantics to text_search_index: the streaming-ingested
    // artifact must answer exactly the whole-corpus conjunctive search
    "text_stream_index" ->
      """WITH t0 AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS term FROM documents),
        |toks AS (SELECT DISTINCT doc_id, term FROM t0 WHERE term != '')
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(count(*) AS BIGINT) AS n_terms_matched
        |FROM toks WHERE term IN ('merge', 'filter', 'group')
        |GROUP BY doc_id HAVING count(*) = 3 ORDER BY doc_id""".stripMargin,

    "dedup_lsh_curve" ->
      """SELECT i/20.0 AS s,
        | round(1.0 - power(1.0 - power(i/20.0, 4), 16), 6) AS p_candidate,
        | CAST(16 AS INT) AS bands, CAST(4 AS INT) AS rows_per_band
        |FROM range(21) t(i) ORDER BY s""".stripMargin,

    "text_zipf" ->
      """WITH t0 AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS term FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM t0
        |      WHERE term != '' GROUP BY 1),
        |r AS (SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, term)
        |        AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y,
        |       row_number() OVER (ORDER BY n DESC, term) AS rk FROM c),
        |f AS (SELECT x, y FROM r WHERE rk <= 50)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        | round((count(*)*sum(x*y) - sum(x)*sum(y))
        |   / (count(*)*sum(x*x) - sum(x)*sum(x)), 6) AS zipf_slope
        |FROM f""".stripMargin,

    "dedup_blocking_eval" ->
      """WITH s AS (SELECT c_custkey AS id, c_name AS nm FROM customer
        |           WHERE c_custkey < 1000),
        |tr AS (SELECT a.id AS ia, b.id AS ib FROM s a JOIN s b
        |       ON a.id < b.id WHERE levenshtein(a.nm, b.nm) <= 1),
        |keys AS (SELECT id, unnest(list_distinct(list_append(
        |        list_transform(range(1, length(nm) + 1),
        |          i -> substr(nm, 1, i - 1) || substr(nm, i + 1, length(nm))),
        |        nm))) AS k FROM s),
        |cand AS (SELECT DISTINCT a.id AS ia, b.id AS ib
        |         FROM keys a JOIN keys b ON a.k = b.k AND a.id < b.id),
        |ct AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM tr),
        |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
        |cg AS (SELECT CAST(count(*) AS BIGINT) AS n_caught
        |       FROM tr WHERE EXISTS (SELECT 1 FROM cand
        |         WHERE cand.ia = tr.ia AND cand.ib = tr.ib)),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM s)
        |SELECT n_truth, n_candidates, n_caught,
        | n_caught = n_truth AS complete,
        | round(1.0 - n_candidates/(nn*(nn-1)/2.0), 6) AS reduction_ratio
        |FROM ct, cc, cg, n""".stripMargin,

    "dedup_fuzzy" ->
      """WITH p AS (SELECT a.c_custkey AS ia, b.c_custkey AS ib,
        |    levenshtein(a.c_name, b.c_name) AS dist
        |  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |  WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        |    AND levenshtein(a.c_name, b.c_name) <= 1)
        |SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(ia + ib) AS BIGINT) AS id_checksum
        |FROM p GROUP BY 1 ORDER BY dist""".stripMargin,
  )
}
