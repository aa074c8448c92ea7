package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftColumn}
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus-scale pipelines, in increasing
  * sophistication: exact (hash groupBy), n-gram Jaccard (with a provable
  * length prefilter), MinHash+LSH (the 100 TB path), SimHash banding.
  *
  * Scale design: every variant is scan → narrow per-row feature → one
  * shuffle on a compact key (hash / band signature / 16-bit chunk) →
  * bounded candidate verification. Nothing materializes O(n²) pairs:
  * candidate generation is always key-equality (shuffle-join-able), and
  * verification only touches colliding pairs.
  *
  * No pair operator caches or checkpoints: its result is a plan that
  * Spark recomputes from lineage, so executor loss is recovered like any
  * other lost partition. An intermediate read by several consumers is
  * shared through [[GraftColumn.pinned]] placed after a key exchange.
  * Pinning runs that exchange's map stages when the operator is called,
  * so an operator with a pinned intermediate computes it eagerly; only
  * the downstream pair stages run at the caller's action.
  */
object Dedup {

  /** LSH banding design curve: for a MinHash signature split into
    * `bands` bands of `rows` rows each, a pair with Jaccard similarity
    * s becomes a candidate with probability `1 − (1 − s^rows)^bands`;
    * the S-curve's inflection threshold is `(1/bands)^(1/rows)`
    * (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4).
    * The tuning table to consult BEFORE a 100 TB
    * [[minhashNearDupPairs]] run: pick (rows, bands) so the threshold
    * sits at the dedup target and the low-similarity tail stays near
    * zero — candidate volume IS the cost, and a mis-set curve either
    * floods the verify join or misses true pairs. Emits a
    * `step`-percent similarity grid with the candidate probability and
    * the constant threshold column. */
  def lshTuningCurve(spark: org.apache.spark.sql.SparkSession, rows: Int,
      bands: Int, step: Int = 5, dp: Int = 6): DataFrame = {
    require(rows >= 1 && bands >= 1, "rows and bands must be >= 1")
    require(step >= 1 && step <= 50, s"step must be in [1,50], got $step")
    import spark.implicits._
    val grid = (step to 100 by step).map(_.toLong).toDF("pct")
    val s = col("pct") / lit(100)
    grid.select(col("pct"), round(s, 2).as("sim"),
      round(lit(1.0) - pow(lit(1.0) - pow(s, rows), bands), dp)
        .as("p_candidate"),
      round(pow(lit(1.0) / bands, lit(1.0) / rows), dp).as("threshold"))
  }

  /** Distinct char k-grams of a string column (the Jaccard feature set). */
  def shingles(c: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(length(c) - k, lit(0))),
      i => substring(c, i + lit(1), lit(k))))

  // MinHash signatures are computed by the native MinHashSig expression
  // (GraftFunctions.minhashSig) — one string hash per shingle + tight
  // per-seed mixes; the equivalent aggregate/zip_with HOF composition
  // measured ~20× slower at sf0.1 (r2 in-session) and was removed with
  // its last caller.

  /** LSH banding: one row per (id, band, bandHash). Two docs share a
    * (band, bandHash) key with prob 1-(1-j^r)^b — the classic S-curve.
    * The band hash is the shuffle key; signature arrays never shuffle. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col(sigCol), b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))))))
      .toDF(idCol, "band", "band_hash")

  /** Candidate pairs from LSH banding: equi-join on (band, band_hash),
    * deduplicated. */
  def lshCandidates(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = lshBands(df, idCol, sigCol, bands, rowsPerBand)
    val a = banded.toDF("id_a", "band", "band_hash")
    val b = banded.toDF("id_b", "band", "band_hash")
    a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard over two shingle-set columns: |∩| / |∪| (as integer
    * sizes — exact, no float accumulation). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** Length-ratio prefilter for jaccard >= tauPct/100: since
    * |A∩B| <= min(|A|,|B|) and |A∪B| >= max(|A|,|B|), any pair with
    * 100*min < tau*max cannot reach the threshold — provably no false
    * negatives. Integer arithmetic only (no float threshold edge). */
  def sizeCompatible(sizeA: Column, sizeB: Column, tauPct: Int): Column =
    least(sizeA, sizeB) * 100 >= greatest(sizeA, sizeB) * tauPct

  /** Fraction (as percent) of agreeing minhash components — an unbiased
    * estimator of jaccard with std ≈ sqrt(j(1-j)/n). 64 long compares in a
    * native expression: ~10× cheaper than an exact shingle-set intersect. */
  def sigAgreementPct(sigA: Column, sigB: Column, numHashes: Int): Column =
    GraftFunctions.minhashAgree(sigA, sigB) * 100L / numHashes

  /** MinHash featurization — (`idCol`, `sh` sorted hashed shingle set,
    * `sig` minhash signature). This is the storable dedup INDEX
    * representation: write it to parquet once per corpus snapshot, read
    * it back for every incremental batch ([[minhashNearDupAgainst]]) —
    * the standing corpus is never re-shingled. */
  def minhashFeaturize(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 64): DataFrame =
    docs
      .select(col(idCol), GraftFunctions.charShingleHashes(col(textCol), shingleK).as("sh"))
      .withColumn("sig", GraftFunctions.minhashSig(col("sh"), numHashes))

  /** Incremental EXACT dedup: `batch` minus rows whose content hash
    * already appears in `corpus` — the arriving-crawl case (dedup the
    * new batch against the standing corpus without touching the corpus
    * or re-deduplicating the batch against itself).
    *
    * Shape: the corpus reduces to DISTINCT 64-bit content hashes (a
    * partial-agg shuffle on the hash), then one LEFT ANTI hash join.
    * When the hash set is small — or AQE watches it shrink — the anti
    * join broadcasts and the batch never shuffles at all. */
  def exactDedupAgainst(batch: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    val seen = corpus.select(xxhash64(col(textCol)).as("__seen_h")).distinct()
    batch.join(seen, xxhash64(col(textCol)) === col("__seen_h"), "left_anti")
  }

  /** Incremental NEAR-dup matches: (batch id, `corpus_id`, `jaccard`)
    * pairs of `batch` docs against a standing corpus INDEX (a
    * [[minhashFeaturize]] result, typically read back from parquet) at
    * jaccard ≥ tauPct/100.
    *
    * Same band → signature-screen → exact-verify cascade as
    * [[minhashNearDupPairs]], but the band join is batch-bands ×
    * index-bands rather than a self-join: per-batch cost scales with the
    * BATCH size and the collision volume, not the corpus. The index side
    * is scanned once per stage (bands / sigs / shingles); callers running
    * many batches against one index should cache it.
    *
    * To then drop the matched batch docs:
    * {{{ batch.join(matches.select(idCol).distinct(), Seq(idCol), "left_anti") }}} */
  def minhashNearDupAgainst(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 5, numHashes: Int = 64,
      bands: Int = 16, tauPct: Int = 51): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val rowsPerBand = numHashes / bands
    // Exact replicas in the arriving batch are collapsed before the
    // cascade (same design as [[minhashNearDupPairs]], including the
    // narrow-projection protocol — text is never grouped or pinned):
    // identical texts share every feature, so band/screen/verify runs
    // once per unique batch text and matches fan back out to member ids
    // at the end. Batch-vs-index only — within-batch pairs are out of
    // contract here.
    val hashed = batch
      .select(col(idCol).as("__mid"), xxhash64(col(textCol)).as("__ch"))
    val slim = GraftColumn.pinned(hashed.groupBy("__ch").agg(min(col("__mid")).as("__rid")))
    val memb = hashed.join(slim.select(col("__ch"), col("__rid")), "__ch")
    val repDocs = batch.select(col(idCol).as("__rid"), col(textCol).as("__text"))
      .join(slim.select(col("__rid")), Seq("__rid"), "left_semi")
    val bf = GraftColumn.pinned(minhashFeaturize(repDocs, "__rid", "__text", shingleK, numHashes)
      .repartition(col("__rid")))
    val cands = lshBands(bf, "__rid", "sig", bands, rowsPerBand)
      .toDF("__rid", "band", "band_hash")
      .join(lshBands(index, idCol, "sig", bands, rowsPerBand)
        .toDF("corpus_id", "band", "band_hash"), Seq("band", "band_hash"))
      .select(col("__rid"), col("corpus_id")).distinct()
    val tau = tauPct / 100.0
    val marginPts = math.ceil(2.5 * math.sqrt(tau * (1 - tau) / numHashes) * 100).toInt
    val screened = cands
      .join(bf.select(col("__rid"), col("sig").as("sig_b")), "__rid")
      .join(index.select(col(idCol).as("corpus_id"), col("sig").as("sig_i")), "corpus_id")
      .where(sigAgreementPct(col("sig_b"), col("sig_i"), numHashes) >=
        lit(math.max(tauPct - marginPts, 0)))
      .select(col("__rid"), col("corpus_id"))
    val repMatches = screened
      .join(bf.select(col("__rid"), col("sh").as("sh_b")), "__rid")
      .join(index.select(col(idCol).as("corpus_id"), col("sh").as("sh_i")), "corpus_id")
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("sh_b"), col("sh_i")))
      .withColumn("uni", size(col("sh_b")) + size(col("sh_i")) - col("inter"))
      .where(col("inter") * 100 >= col("uni") * tauPct)
      .select(col("__rid"), col("corpus_id"),
        round(col("inter").cast("double") / col("uni").cast("double"), 6).as("jaccard"))
    repMatches
      .join(memb.select(col("__rid"), col("__mid")), "__rid")
      .select(col("__mid").as(idCol), col("corpus_id"), col("jaccard"))
  }

  /** End-to-end MinHash-LSH near-dup pairs verified by exact Jaccard at
    * tauPct/100 (integer threshold compare — no float boundary).
    *
    * EXACT REPLICAS ARE COLLAPSED FIRST: web-scale corpora are dominated
    * by byte-identical documents (the same page crawled repeatedly), and
    * identical texts share every downstream feature — so the corpus is
    * grouped by 64-bit content hash, the band → screen → verify cascade
    * runs once per UNIQUE text, and pairs are expanded back to member
    * ids afterward by output-sensitive equi-joins. The expansion is
    * strictly cheaper than the naive path, which would band, screen and
    * shuffle the full shingle arrays of every replica pair it is about
    * to emit anyway. (A 64-bit content-hash collision between different
    * texts would merge them — the same negligible-at-any-scale odds this
    * operator already accepts for its hashed shingle sets.) Within-group
    * pairs are qualified by evaluating the IDENTICAL screen + verify
    * expressions on the representative paired with itself, so degenerate
    * texts (null → null features, empty → 0/0 jaccard) keep byte-for-
    * byte the semantics of the uncollapsed pipeline.
    *
    * The unique-text featurization (id, shingles, signature) is computed
    * ONCE, pinned after its exchange on the representative id, and shared
    * by all downstream uses (both sides of the band self-join, both sides
    * of the verification join, the self-pair qualifier) — unshared, Spark
    * would recompute shingling + signatures per join side. The collapse
    * itself rides the NARROW (id, content-hash) projection: grouping,
    * counting and the member map shuffle 16-byte rows, text reaches only
    * the one rep-recovery semi-join feeding the featurization scan, and
    * nothing shared ever holds a text column. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 64, bands: Int = 16,
      tauPct: Int = 51): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands) — " +
        "a remainder would silently drop signature components from banding")
    val tau = tauPct / 100.0
    // Screen threshold: the cheap signature estimate 2.5σ below tau
    // (σ = sqrt(τ(1-τ)/n), computed from the ACTUAL signature width —
    // at n=64, τ=0.51 this is the 16-point margin): band collisions from
    // a template-heavy corpus produce masses of sub-threshold pairs, and
    // the estimate rejects them without touching the shingle sets. Only
    // survivors pay for the exact intersect.
    val marginPts = math.ceil(2.5 * math.sqrt(tau * (1 - tau) / numHashes) * 100).toInt
    val minAgree = math.max(tauPct - marginPts, 0)
    // replica collapse over the narrow (id, content-hash) projection:
    // one group row per unique text (min id = representative), member
    // map by hash join, and the representatives' text recovered with a
    // semi-join on the min id — text never enters a groupBy or a pin
    val hashed = docs
      .select(col(idCol).as("__mid"), xxhash64(col(textCol)).as("__ch"))
    val slim = GraftColumn.pinned(hashed.groupBy("__ch")
      .agg(min(col("__mid")).as("__rid"), count(lit(1L)).as("__n")))
    // id → representative map, for the pair expansion (read four times)
    val memb = GraftColumn.pinned(hashed.join(slim.select(col("__ch"), col("__rid")), "__ch")
      .repartition(col("__rid")))
    val repDocs = docs.select(col(idCol).as("__rid"), col(textCol).as("__text"))
      .join(slim.select(col("__rid")), Seq("__rid"), "left_semi")
    // featurize once per unique text with the fused kernel: sorted hashed
    // shingle set (also the verification representation) + its signature
    val featurized = GraftColumn.pinned(
      minhashFeaturize(repDocs, "__rid", "__text", shingleK, numHashes).repartition(col("__rid")))
    val cands = lshCandidates(featurized, "__rid", "sig", bands, numHashes / bands)
    val sigs = featurized.select(col("__rid"), col("sig"))
    val screened = cands
      .join(sigs.toDF("sid_a", "sig_a"), col("id_a") === col("sid_a"))
      .join(sigs.toDF("sid_b", "sig_b"), col("id_b") === col("sid_b"))
      .where(sigAgreementPct(col("sig_a"), col("sig_b"), numHashes) >= lit(minAgree))
      .select(col("id_a"), col("id_b"))
    val sh = featurized.select(col("__rid"), col("sh"))
    val repPairs = screened
      .join(sh.toDF("jid_a", "sh_a"), col("id_a") === col("jid_a"))
      .join(sh.toDF("jid_b", "sh_b"), col("id_b") === col("jid_b"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .where(col("inter") * 100 >= col("uni") * tauPct)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni").cast("double"), 6).as("jaccard"))
    // distinct-text pairs → member pairs (each rep pair expands exactly
    // once per member combination; member ids of different groups may
    // interleave, hence the least/greatest re-ordering)
    val cross = repPairs
      .join(memb.select(col("__rid").as("id_a"), col("__mid").as("__ma")), "id_a")
      .join(memb.select(col("__rid").as("id_b"), col("__mid").as("__mb")), "id_b")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
    // within-group pairs: qualify the representative against ITSELF with
    // the same screen + verify expressions (identical sorted sets →
    // inter = |sh|, uni = |sh| → jaccard 1.0; a null text nulls its
    // features and screens out; an empty text still yields one truncated
    // gram — CharShingleHashes emits max(len−k,0)+1 windows — so empty
    // replicas verify as inter = uni = 1, jaccard 1.0 — all exactly as
    // the uncollapsed cascade behaves for a replica pair), then fan out
    // to every member combination of the group
    val selfQ = featurized
      .join(slim.where(col("__n") > 1).select(col("__rid")), "__rid")
      .where(sigAgreementPct(col("sig"), col("sig"), numHashes) >= lit(minAgree))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("sh"), col("sh")))
      .withColumn("uni", size(col("sh")) * 2 - col("inter"))
      .where(col("inter") * 100 >= col("uni") * tauPct)
      .select(col("__rid"),
        round(col("inter").cast("double") / col("uni").cast("double"), 6).as("jaccard"))
    val within = selfQ
      .join(memb.select(col("__rid"), col("__mid").as("__ma")), "__rid")
      .join(memb.select(col("__rid"), col("__mid").as("__mb")), "__rid")
      .where(col("__ma") < col("__mb"))
      .select(col("__ma").as("id_a"), col("__mb").as("id_b"), col("jaccard"))
    cross.unionByName(within)
  }

  /** EXACT Jaccard near-dup self-join at tauPct/100 via AllPairs prefix
    * filtering (Bayardo, Ma & Srikant, WWW'07; Chaudhuri et al. ICDE'06) —
    * no cartesian product, provably no false negatives:
    *
    *   - jaccard(A,B) ≥ τ implies |A∩B| ≥ ⌈τ·|A|⌉ (since |A∪B| ≥ |A|),
    *   - so indexing only each doc's first |A| - ⌈τ·|A|⌉ + 1 shingles
    *     under one global canonical order (rarest-first, to minimize
    *     collisions) guarantees every qualifying pair shares at least one
    *     indexed shingle — candidates come from an EQUI-join on shingle.
    *
    * Pipeline shape: explode → document-frequency count → per-doc
    * rarest-first rank (window over doc id — many small groups, no skew) →
    * prefix index → self-join on shingle + size-ratio prefilter → distinct
    * pairs → exact intersect verify. Every stage is a key-partitioned
    * shuffle; candidate volume scales with real similarity, not n².
    *
    * The featurization is pinned after its exchange on the doc id and
    * shared by the token explode and both verify joins. Re-evaluated per
    * consumer it was slower than the cached build this replaced in 10 of
    * 10 alternating pairs of the dedup_jaccard registry query (median
    * 7.63 s vs 6.45 s; pinned 6.35 s; sf0.1, local[4]) and in 8 of 10 of
    * the perfbench curation pipeline (4.19 s vs 3.44 s; pinned 3.17 s). */
  def jaccardNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, tauPct: Int = 51, keepCounts: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Work on SORTED HASHED shingles throughout (one fused kernel):
    // 8-byte longs instead of UTF8Strings shrink every shuffle and let
    // verification run as a linear merge. Hashing a deduplicated gram set
    // preserves set cardinalities (64-bit collisions are negligible at
    // any corpus size).
    val sh = GraftColumn.pinned(docs
      .select(col(idCol).as("id"),
        GraftFunctions.charShingleHashes(col(textCol), shingleK).as("sh"))
      .withColumn("sz", size(col("sh"))).repartition(col("id")))
    val tokens = sh.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    val dfreq = tokens.groupBy("g").agg(count(lit(1L)).as("df"))
    // minimum overlap ⌈τ·sz⌉ in pure integer arithmetic (no float edge):
    val minOverlap = floor((col("sz") * tauPct + lit(99)) / 100)
    val prefix = tokens.join(dfreq, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .where(col("rk") <= col("sz") - minOverlap + 1)
      .select(col("g"), col("id"), col("sz"))
    val cands = prefix.toDF("g", "id_a", "sz_a")
      .join(prefix.toDF("g", "id_b", "sz_b"), Seq("g"))
      .where(col("id_a") < col("id_b") &&
        sizeCompatible(col("sz_a"), col("sz_b"), tauPct))
      .select("id_a", "id_b").distinct()
    cands
      .join(sh.toDF("jid_a", "sh_a", "sz_a"), col("id_a") === col("jid_a"))
      .join(sh.toDF("jid_b", "sh_b", "sz_b"), col("id_b") === col("jid_b"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("uni", col("sz_a") + col("sz_b") - col("inter"))
      .where(col("inter") * 100 >= col("uni") * tauPct)
      .select(Seq(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("uni").cast("double"), 6).as("jaccard")) ++
        // keepCounts exposes the exact integer (inter, uni) so callers
        // sweeping SEVERAL thresholds can re-test `inter*100 >= uni*τ`
        // verbatim on this pair table instead of re-featurizing per τ
        (if (keepCounts) Seq(col("inter"), col("uni")) else Seq.empty): _*)
  }

  /** ASYMMETRIC containment pairs: (inner_id, outer_id, containment)
    * where |grams(inner) ∩ grams(outer)| ≥ τ·|grams(inner)| — the
    * doc-in-doc relation Jaccard cannot see (a tweet quoted inside an
    * article has Jaccard ≈ |tweet|/|article| ≈ 0 but containment 1.0).
    * This is the quote-inclusion / subset-dedup primitive of web
    * curation: drop or down-weight documents whose content is already
    * carried inside larger kept documents.
    *
    * Candidate generation is the AllPairs prefix filter restated for
    * containment (Chaudhuri, Ganti & Kaushik, ICDE 2006 SSJoin): the
    * inner doc must share ≥ ⌈τ·sz⌉ grams, so any qualifying outer
    * shares at least one of the inner's (sz − ⌈τ·sz⌉ + 1) RAREST grams
    * — only that prefix is indexed on the inner side. The outer side
    * indexes all grams (containment bounds nothing on the outer's own
    * size), so candidate volume is Σ_g prefix(g)·df(g): still an
    * equi-join driven by shared-rare-gram structure, never a cartesian.
    * Verification is one linear merge over sorted hashed gram sets.
    * Docs with zero grams (shorter than the shingle) pair with nothing:
    * a 0-gram inner would vacuously "be contained" everywhere.
    *
    * The featurization is pinned after its exchange on the doc id and
    * shared by the token explode and both verify joins. Re-evaluated per
    * consumer it made the dedup_containment registry query slower in 9
    * of 10 alternating pairs against the cached build this replaced
    * (median 1.67 s vs 1.17 s; pinned 1.28 s; sf0.1, local[4]). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 8, tauPct: Int = 90): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = GraftColumn.pinned(docs
      .select(col(idCol).as("id"),
        GraftFunctions.charShingleHashes(col(textCol), shingleK).as("sh"))
      .withColumn("sz", size(col("sh")))
      .where(col("sz") > 0)
      .repartition(col("id")))
    val tokens = sh.select(col("id"), col("sz"), explode(col("sh")).as("g"))
    val dfreq = tokens.groupBy("g").agg(count(lit(1L)).as("df"))
    val minOverlap = floor((col("sz") * tauPct + lit(99)) / 100)
    val prefix = tokens.join(dfreq, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .where(col("rk") <= col("sz") - minOverlap + 1)
      .select(col("g"), col("id"), col("sz"))
    val cands = prefix.toDF("g", "inner_id", "sz_i")
      .join(tokens.select(col("g"), col("id").as("outer_id"), col("sz").as("sz_o")), Seq("g"))
      // the outer must hold at least the inner's required overlap
      .where(col("inner_id") =!= col("outer_id") &&
        col("sz_o") * 100 >= col("sz_i") * tauPct)
      .select("inner_id", "outer_id").distinct()
    cands
      .join(sh.toDF("jid_i", "sh_i", "sz_i"), col("inner_id") === col("jid_i"))
      .join(sh.toDF("jid_o", "sh_o", "sz_o"), col("outer_id") === col("jid_o"))
      .withColumn("inter", GraftFunctions.sortedIntersectCount(col("sh_i"), col("sh_o")))
      .where(col("inter") * 100 >= col("sz_i") * tauPct)
      .select(col("inner_id"), col("outer_id"),
        round(col("inter").cast("double") / col("sz_i").cast("double"), 6)
          .as("containment"))
  }

  /** Aggressive content normalization for NEAR-exact dedup (the CCNet /
    * RefinedWeb fold): lowercase, strip every non-alphanumeric rune to
    * a space, collapse whitespace runs, trim. Two documents that differ
    * only in case, punctuation, or spacing fold to the same string —
    * the cheap tier between byte-exact hashing and MinHash, catching
    * the most common re-post edits at zero candidate-generation cost.
    * Pure in-scan Column algebra. */
  def normalizeForDedup(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9]+", " "), " +", " "))

  /** [[exactDupGroups]] over the NORMALIZED fold: duplicate groups of
    * case/punctuation/whitespace variants. Same one-shuffle shape —
    * the normalization rides the scan. */
  def normalizedDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), xxhash64(normalizeForDedup(col(textCol))).as("hash"))
      .groupBy("hash")
      .agg(count(lit(1L)).as("n"), min(col(idCol)).as("keep_id"))
      .where(col("n") > 1)

  /** Exact duplicate groups by full-content hash: (hash, n, canonical id =
    * min id). One shuffle on the 64-bit hash. */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("content_hash"))
      .agg(count(lit(1L)).as("n"), min(col(idCol)).as("keep_id"))
      .where(col("n") > 1)

  /** SimHash near-dup candidate pairs: band the 64-bit fingerprint into
    * four 16-bit chunks (pigeonhole: hamming<=3 ⇒ some chunk equal), join
    * per chunk, verify with bit_count(xor) <= maxHamming. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingNearDupPairs(docs, idCol, simhashCol, maxHamming, nChunks = 4)

  /** Generalized Hamming-banded near-dup pairs over ANY 64-bit
    * fingerprint column (text SimHash, image pHash): band the hash into
    * `nChunks` contiguous chunks, equi-join per (chunk index, chunk
    * value), verify candidates with bit_count(xor) <= maxHamming.
    *
    * Recall contract (pigeonhole): a pair at hamming <= nChunks-1 MUST
    * share an untouched chunk, so recall is exact up to that radius and
    * probabilistic beyond it. nChunks defaults to maxHamming+1 (exact
    * recall at the verify radius).
    *
    * Scale tradeoff: chunk width is 64/nChunks bits, and each (idx,
    * value) bucket holds every fingerprint agreeing on that chunk — a
    * corpus of N images spreads over ~2^(64/nChunks) buckets per band.
    * 4×16 (the SimHash config) is the web-scale shape; nChunks beyond ~8
    * narrows chunks enough that buckets grow toward N/2^8 and the
    * candidate join goes quadratic — prefer raising nChunks only on
    * bounded corpora, or cap dense buckets upstream like
    * [[Similarity.annSelfJoin]]. */
  def hammingNearDupPairs(docs: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, nChunks: Int = 0): DataFrame = {
    val chunked = hammingChunks(docs, idCol, hashCol, maxHamming, nChunks)
    val a = chunked.toDF("id_a", "sim_a", "chunk_idx", "chunk")
    val b = chunked.toDF("id_b", "sim_b", "chunk_idx", "chunk")
    a.join(b, Seq("chunk_idx", "chunk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Incremental Hamming matching: batch fingerprints vs a standing
    * INDEX of fingerprints (pHash images, Haitsma–Kalker audio) — the
    * perceptual-hash sibling of [[minhashNearDupAgainst]]: per-batch
    * cost scales with the batch; the index is a storable (id, hash)
    * parquet artifact that never recomputes. Same generalized chunk
    * banding as [[hammingNearDupPairs]] (pigeonhole-exact recall to
    * radius nChunks−1): candidates come from a chunk equi-join between
    * the batch's chunk table and the index's, then one XOR popcount
    * verify. Returns (batch idCol, `index_id`, `hamming`). */
  def hammingNearDupAgainst(batch: DataFrame, index: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int,
      nChunks: Int = 0): DataFrame =
    hammingChunks(batch, idCol, hashCol, maxHamming, nChunks)
      .toDF("__bid", "__bh", "chunk_idx", "chunk")
      .join(hammingChunks(index, idCol, hashCol, maxHamming, nChunks)
        .toDF("index_id", "__ih", "chunk_idx", "chunk"), Seq("chunk_idx", "chunk"))
      .select(col("__bid").as(idCol), col("index_id"),
        bit_count(col("__bh").bitwiseXOR(col("__ih"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)

  /** One row per (`idCol`, `hashCol`, chunk_idx, chunk): the 64-bit
    * fingerprint banded into `nChunks` contiguous chunks (default
    * maxHamming + 1). Chunk i covers [off, off+width); widths differ by
    * at most one bit, so the pigeonhole guarantee holds for any count. */
  private def hammingChunks(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, nChunks: Int): DataFrame = {
    val n = if (nChunks > 0) nChunks else maxHamming + 1
    require(n >= 1 && n <= 64, s"nChunks must be in [1, 64], got $n")
    require(maxHamming >= 0 && maxHamming <= 64, s"bad maxHamming $maxHamming")
    val base = 64 / n; val rem = 64 % n
    val chunks = array((0 until n).map { i =>
      val off = i * base + math.min(i, rem)
      val width = base + (if (i < rem) 1 else 0)
      val mask = if (width == 64) -1L else (1L << width) - 1
      shiftright(col(hashCol), off).bitwiseAND(lit(mask))
    }: _*)
    df.select(col(idCol), col(hashCol), posexplode(chunks))
      .toDF(idCol, hashCol, "chunk_idx", "chunk")
  }

  /** All pairs within Levenshtein edit distance `maxDist` — fuzzy
    * entity matching over names/titles/identifiers (typo dedup, record
    * linkage), the character-level relation token-set Jaccard cannot
    * see. Candidate generation is the deletion-neighborhood scheme
    * (SymSpell, Garbe 2012): every string emits the strings obtainable
    * by deleting up to `maxDist` characters; `dist(a,b) ≤ d` implies
    * the two neighborhoods intersect (delete the edited positions from
    * each side), so an EQUI-join on variant keys yields a complete
    * candidate set — no cartesian, no length-band theta join — and the
    * built-in codegen'd `levenshtein` verifies exactly.
    *
    * Scale notes: a string of length L emits O(L^d) variants — the
    * scheme is for SHORT strings (names, titles, codes; `maxDist` ≤ 2
    * enforced) where the blow-up is tens of keys. Exact-duplicate
    * groups all collide on every shared key: collapse to distinct
    * strings first (exactDedup) when the corpus is replica-heavy —
    * the same discipline as the MinHash cascade. Each candidate pair
    * is produced by ≤ |variants| keys and deduplicated on ids before
    * verification.
    *
    * Returns (id_a, id_b, dist), id_a < id_b, dist ≤ maxDist (0 =
    * identical strings). */
  def editDistancePairs(docs: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame = {
    // thresholded levenshtein (banded DP, O(len·d) and early-exit; −1
    // when the distance exceeds the bound) — the unbounded O(len²) DP
    // was the dominant cost of the whole operator on the candidate set
    val lv = levenshtein(col("__sa"), col("__sb"), maxDist)
    deletionKeyed(docs, idCol, strCol, maxDist)
      .select(col("__k"), col("__id").as("id_a"), col("__s").as("__sa"))
      .join(deletionKeyed(docs, idCol, strCol, maxDist)
        .select(col("__k"), col("__id").as("id_b"), col("__s").as("__sb")), "__k")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "__sa", "id_b", "__sb").distinct()
      .where(lv >= 0)
      .select(col("id_a"), col("id_b"), lv.as("dist"))
  }

  /** Cross-table fuzzy record linkage: rows of `a` matched to rows of
    * `b` whose string is within Levenshtein `maxDist` — entity
    * resolution between a master table and an incoming feed (typo'd
    * names, OCR'd titles). Same deletion-neighborhood candidate
    * equi-join + exact verify as [[editDistancePairs]], across two
    * frames; every caveat there (short strings, replica collapse)
    * applies per side. Returns (id_a, id_b, dist) — one row per
    * matching CROSS pair including exact hits (dist 0). */
  def linkPairs(a: DataFrame, idA: String, strA: String,
      b: DataFrame, idB: String, strB: String,
      maxDist: Int = 1): DataFrame = {
    val lv = levenshtein(col("__sa"), col("__sb"), maxDist)
    deletionKeyed(a, idA, strA, maxDist)
      .select(col("__k"), col("__id").as("id_a"), col("__s").as("__sa"))
      .join(deletionKeyed(b, idB, strB, maxDist)
        .select(col("__k"), col("__id").as("id_b"), col("__s").as("__sb")), "__k")
      .select("id_a", "__sa", "id_b", "__sb").distinct()
      .where(lv >= 0)
      .select(col("id_a"), col("id_b"), lv.as("dist"))
  }

  /** The CANDIDATE pair set of the deletion-neighborhood blocking,
    * BEFORE distance verification — exposed so blocking quality can be
    * evaluated (pair completeness vs exact ground truth, reduction
    * ratio vs all-pairs). For maxDist ≤ 2 the SymSpell neighborhood is
    * complete by construction: every true within-distance pair shares a
    * key, so measured completeness below 1.0 indicates a bug, not a
    * tuning problem. Hash collisions can only ADD candidates
    * (one-sided). */
  def blockingCandidates(docs: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1): DataFrame =
    deletionKeyed(docs, idCol, strCol, maxDist)
      .select(col("__k"), col("__id").as("id_a"))
      .join(deletionKeyed(docs, idCol, strCol, maxDist)
        .select(col("__k"), col("__id").as("id_b")), "__k")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

  /** Dataset-level overlap: EXACT pairwise Jaccard between the distinct
    * doc-content-digest sets of each corpus slice (which sources carry
    * the same documents? how redundant is a new crawl against the
    * holdings?). One distinct rollup to (group, digest), then a
    * DIGEST-keyed equi self-join — intersection work is
    * output-sensitive (only digests shared by ≥2 groups pair up),
    * never |G|²·docs. */
  def sourceOverlapExact(df: DataFrame, groupCol: String, textCol: String,
      dp: Int = 6): DataFrame = {
    val gd = df.select(col(groupCol).cast("string").as("g"),
      md5(col(textCol)).as("d")).distinct()
    val sizes = gd.groupBy("g").agg(count(lit(1L)).as("n"))
    val common = gd.toDF("src_a", "d")
      .join(gd.toDF("src_b", "d"), "d")
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1L)).as("n_common"))
    sizes.toDF("src_a", "n_a")
      .join(broadcast(sizes.toDF("src_b", "n_b")), col("src_a") < col("src_b"))
      .join(common, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)) /
          (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L)))
            .cast("double"), dp).as("jaccard"))
  }

  /** Dataset-level overlap, sketched: the bottom-1 MinHash estimate of
    * the same pairwise Jaccard from `numHashes` independent min-digests
    * per slice. `sig_i(G) = min over G's docs of md5(md5(text):i)` —
    * the lexicographic min over an (approximately) random permutation
    * of the digest universe, so `P[sig_i(A) = sig_i(B)] = J(A, B)` and
    * the match fraction is an unbiased estimator with σ ≈ 1/√k.
    *
    * Scale shape: the per-slice signature is ONE map-side-partial `min`
    * rollup to |G|·k rows (the k-way replication happens in-scan);
    * pair scoring joins signatures on the hash INDEX — |G|²·k tiny
    * rows, corpus never pairs. Signatures are mergeable (min of mins),
    * so shards/increments combine without recomputation. */
  def sourceOverlapMinhash(df: DataFrame, groupCol: String, textCol: String,
      numHashes: Int = 64): DataFrame = {
    require(numHashes > 0, s"numHashes must be positive, got $numHashes")
    val sig = df
      .select(col(groupCol).cast("string").as("g"), md5(col(textCol)).as("__d"))
      .select(col("g"), explode(sequence(lit(0), lit(numHashes - 1))).as("i"),
        col("__d"))
      .groupBy("g", "i")
      .agg(min(md5(concat_ws(":", col("__d"), col("i")))).as("m"))
    sig.toDF("src_a", "i", "m_a")
      .join(sig.toDF("src_b", "i", "m_b"), "i")
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg((sum(when(col("m_a") === col("m_b"), 1L).otherwise(0L)) /
        lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** TF-IDF cosine similarity pairs — the SPARSE-vector similarity join
    * (word-weighted), complementing the dense-embedding cosine paths
    * ([[Similarity.annSelfJoin]]/semDedup) and the set-overlap paths
    * (Jaccard/MinHash): near-topical duplicates that share vocabulary
    * with different word ORDER and different lengths score high here
    * while shingle Jaccard misses them.
    *
    * Semantics (deterministic, restatable in any SQL engine):
    * whitespace word tokens of lower(trim(text)); tf = in-doc term
    * count; smooth idf = ln((N+1)/(df+1)) + 1 (the standard smoothed
    * form); terms with df > `maxDf` are REMOVED FROM THE VECTORS (not
    * just the join) before L2 normalization, so the cutoff is part of
    * the metric, not an approximation of it; cosine = Σ ŵ_a·ŵ_b over
    * shared terms, thresholded on round(cos, dp) >= minCos.
    *
    * Scale shape: tf/df/norms are word-keyed partial-aggregated
    * rollups; candidate pairs come from the TERM-keyed equi-join of
    * normalized postings, so pair work is Σ_term df² ≤ maxDf · Σ df —
    * `maxDf` is the quadratic cap (the stop-term postings that would
    * dominate Σ df² carry near-zero idf weight anyway, which is what
    * makes the cap a metric choice and not just a cost hack). Nothing
    * is all-pairs. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      minCos: Double, maxDf: Long = 1000L, dp: Int = 4): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val toks = docs
      .select(col(idCol).as("__id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__t"))
      .where(length(col("__t")) > 0)
    val tf = toks.groupBy("__id", "__t").agg(count(lit(1L)).as("__tf"))
    val dfreq = tf.groupBy("__t").agg(count(lit(1L)).as("__df"))
      .where(col("__df") <= maxDf)
    val n = docs.agg(count(lit(1L)).as("__n"))
    val w = tf.join(dfreq, "__t").crossJoin(broadcast(n))
      .select(col("__id"), col("__t"),
        (col("__tf") * (log((col("__n") + 1.0) / (col("__df") + 1.0)) + 1.0))
          .as("__w"))
    val norm = w.groupBy("__id").agg(sqrt(sum(col("__w") * col("__w"))).as("__nm"))
    val wn = w.join(norm, "__id")
      .select(col("__id"), col("__t"), (col("__w") / col("__nm")).as("__wn"))
    wn.toDF("id_a", "__t", "wn_a")
      .join(wn.toDF("id_b", "__t", "wn_b"), "__t")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(round(sum(col("wn_a") * col("wn_b")), dp).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** One row per (id, string, deletion-neighborhood key): the string
    * itself plus every string obtainable by deleting ≤ `maxDist`
    * characters — the SymSpell candidate key set. Keys ship as 64-bit
    * xxhash64 of the variant, not the variant string: the candidate
    * join shuffles an 8-byte key instead of a near-full-length string
    * per variant row, and a hash collision can only ADD a candidate
    * pair, which the exact levenshtein verify then rejects — the same
    * one-sided-error discipline as the banding operators. */
  private def deletionKeyed(docs: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"deletion neighborhoods are for short-string fuzzy matching; maxDist must be 1 or 2, got $maxDist")
    // every string obtainable by deleting exactly one char from any
    // element of arr (distinct)
    def del1(arr: Column): Column = array_distinct(flatten(transform(arr, s =>
      transform(sequence(lit(1), length(s)),
        i => concat(substr(s, lit(1), i - 1), substr(s, i + 1, length(s)))))))
    val base = docs.select(col(idCol).as("__id"), col(strCol).as("__s"))
      .where(col("__s").isNotNull && length(col("__s")) > 0)
    val v1 = array(col("__s"))
    val keys = if (maxDist == 1) array_union(v1, del1(v1))
               else array_union(v1, array_union(del1(v1), del1(del1(v1))))
    base.select(col("__id"), col("__s"),
      explode(transform(keys, k => xxhash64(k))).as("__k"))
  }
}
