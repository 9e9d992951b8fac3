package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, Numerics, Texts}

/** Deduplication operators for large text corpora.
  *
  * Scale design (SURVEY.md §4): exact dedup is one shuffle by digest;
  * near-dup is MinHash-LSH — shingle → per-seed min-hash → band keys →
  * ONE shuffle by (band, key) → pairs only within buckets → exact
  * Jaccard verify. Work is proportional to Σ bucket², never n². No
  * cross join, no driver-side collect anywhere.
  */
object Dedup {

  /** Content digest used for exact dedup: md5 of normalized text.
    * DuckDB: `md5(lower(trim(text)))`.
    */
  def contentDigest(text: Column): Column = md5(Texts.normText(text))

  /** Exact dedup: one row per distinct digest, keeping the smallest id
    * (keep-first). A single hash-partitioned aggregation with map-side
    * partials — the canonical 100 TB exact-dedup shape.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(contentDigest(col(textCol)).as("digest"), col(idCol))
      .groupBy("digest")
      .agg(
        min(col(idCol)).cast("long").as(s"kept_$idCol"),
        count(lit(1)).as("n_copies"))

  /** Chunk-level exact dedup — the paragraph-dedup pass (CCNet/Dolma
    * shape) where duplication lives INSIDE and ACROSS documents:
    * boilerplate headers, licenses, navigation text. Input is the
    * chunk stream ([[TextAnalysis.chunkDocuments]] output or any
    * (id, seq, text) rows); every chunk is digested and deduped by ONE
    * hash-partitioned aggregate with map-side partials — O(chunks)
    * shuffle of (digest, id, seq), the same 100 TB shape as [[exact]].
    * Keeper is the lexicographic min (id, seq) struct, so any engine
    * picks the same survivor. Output: (chunk_digest, kept_<id>,
    * kept_<seq>, n_copies).
    */
  def chunkExact(
      chunks: DataFrame,
      idCol: String,
      seqCol: String,
      textCol: String): DataFrame =
    chunks
      .select(
        md5(col(textCol)).as("chunk_digest"),
        struct(
          col(idCol).cast("long").as("i"),
          col(seqCol).cast("long").as("s")).as("k"))
      .groupBy("chunk_digest")
      .agg(min(col("k")).as("keep"), count(lit(1)).as("n_copies"))
      .select(
        col("chunk_digest"),
        col("keep.i").as(s"kept_$idCol"),
        col("keep.s").as(s"kept_$seqCol"),
        col("n_copies"))

  /** Maximal duplicated substring spans — the variable-length
    * substring-dedup pass of an LLM curation pipeline: every maximal
    * character span whose EVERY width-`k` gram occurs at least twice
    * in the corpus (inside or across documents), reported when at
    * least `minSpan` chars long. Unlike [[chunkExact]]'s fixed chunks,
    * spans start and end anywhere: runs of consecutive duplicated
    * gram start positions assemble into maximal spans via the
    * gaps-and-islands fold (pos − row_number per doc).
    *
    * Scale shape: one Generate of start positions per doc (the
    * sequence expression is exploded directly — see
    * [[minhashSignatures]] for the InferFiltersFromGenerate trap),
    * each gram digested to 128 bits so the corpus-wide frequency
    * aggregate and the join back shuffle 16-byte keys, never k-char
    * strings. The >=2 filter runs as a hash aggregate with map-side
    * partials; re-attaching it to positions is an equi-join (AQE
    * skew-safe where a collect_list of positions per gram would
    * hot-spot on boilerplate grams); the island fold is one per-doc
    * window. Everything is linear in total characters.
    * Output: (doc_id, span_start 1-based, span_len).
    */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minSpan: Int): DataFrame = {
    require(k >= 1 && minSpan >= k, "need k >= 1 and minSpan >= k")
    // the length guard also keeps Spark's sequence() ascending: with
    // len < k the stop would fall below the start and sequence REVERSES
    // rather than returning empty
    val base = graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .where(length(col("text")) >= k)
    // knownNotNull: md5 of non-null text is null-free by construction,
    // and WITHOUT the tag the inner join below infers an
    // `isnotnull(g)` key filter that predicate pushdown inlines under
    // each Generate as `isnotnull(md5(cast(substr(text, pos, k)...)))`
    // — re-computing the dominant per-position digest TWICE on BOTH
    // join sides (4 corpus-md5 passes instead of 2; see
    // plans/r20/q112_duplicated_spans_before.txt operators (5)/(11)).
    // unhex: the digest aggregates and joins as 16 RAW bytes, not the
    // 32-char hex string — same 128-bit key (hex is a bijection), half
    // the aggregate/broadcast key bytes (guide §2.3 narrower types).
    val grams = base
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        org.apache.spark.sql.graft.ColumnShim.knownNotNull(
          unhex(md5(col("text").substr(col("pos"), lit(k))))).as("g"))
    val dupG = grams.groupBy("g").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).select("g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    grams.join(dupG, "g")
      .select(col("doc_id"), col("pos"))
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy("doc_id", "island")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") - min("pos") + k).cast("long").as("span_len"))
      .where(col("span_len") >= minSpan)
      .select(col("doc_id"), col("span_start"), col("span_len"))
  }

  /** MinHash family: ONE strong base hash per shingle (codegen'd
    * xxhash64, folded to 30 bits), then a universal affine family
    * h_i(x) = (a_i·x + b_i) mod p over prime p = 2^31−1 for the
    * per-seed hashes — 24× cheaper than hashing each shingle per seed.
    * p must sit just above the 30-bit hash domain so the mod actually
    * wraps (a 61-bit modulus with a·x+b < 2^61 would make every h_i
    * monotonic in x — all seeds would pick the same min shingle).
    * Candidate generation only: final pairs always pass the exact
    * shingle-Jaccard verify, so the family needs to be deterministic,
    * not cross-engine.
    */
  private val MersennePrime31 = (1L << 31) - 1
  private[operators] val affineParams: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    IndexedSeq.fill(64)(
      (rnd.nextLong().abs % (MersennePrime31 - 1) + 1,
        rnd.nextLong().abs % MersennePrime31))
  }

  /** Per-seed min-hash aggregates over an exploded (id, h) stream.
    * Plain `min` aggregates: whole-stage-codegen'd, map-side partials,
    * one small shuffle of (id × numHashes) partial states.
    * a·h+b < 2^61 + 2^31 — no long overflow before the mod.
    */
  def minhashAggs(h: Column, numHashes: Int): Seq[Column] = {
    require(numHashes <= affineParams.size)
    (0 until numHashes).map { seed =>
      val (a, b) = affineParams(seed)
      min((lit(a) * h + lit(b)) % MersennePrime31).as(s"mh_$seed")
    }
  }

  /** MinHash signatures via explode → hash-aggregate. The shingle
    * EXPRESSION is exploded directly (one-step Generate): naming it in
    * an intermediate projection would let `InferFiltersFromGenerate`
    * derive `size(shingles)>0 AND isnotnull(shingles)` from the
    * attribute and push the whole (interpreted, non-CSE'd) shingle tree
    * into a pre-shuffle Filter — measured 20× slower than the Generate
    * itself. The aggregate is plain codegen'd `min`s with map-side
    * partials: only (id × numHashes) partial states shuffle.
    */
  def minhashSignatures(
      df: DataFrame,
      id: Column,
      shingles: Column,
      numHashes: Int): DataFrame = {
    val aggs = minhashAggs(col("h"), numHashes)
    df.select(id.as("id"), explode(shingles).as("sh"))
      .select(col("id"), pmod(xxhash64(col("sh")), lit(1L << 30)).as("h"))
      .groupBy("id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Prefix-filtered set-similarity join (AllPairs/PPJoin family) —
    * the EXACT-recall alternative to LSH for word-set Jaccard ≥
    * `threshold`: under a global token order, two sets with Jaccard ≥ θ
    * MUST share a token inside their (len − ⌈θ·len⌉ + 1)-prefixes
    * (pigeonhole on the smallest common token), so joining prefixes by
    * token finds every qualifying pair — no LSH false negatives, no
    * probabilistic tuning.
    *
    * The global order is (document frequency ASC, token ASC): each
    * doc's RAREST tokens form its prefix, so candidate buckets are
    * df-bounded and stopword-sized buckets never form. A length
    * pre-filter (min/max ≥ θ, division form — double division is
    * monotone, so the bound can never reject a pair the verify would
    * keep) prunes before the exact-intersection verify. ⌈len·θ⌉ on
    * doubles is conservative at representation boundaries (rounds the
    * product down ⇒ longer prefix), so recall stays exact.
    *
    * The prefix join also carries PPJoin's POSITIONAL filter: a match
    * at (1-based) global-order positions (pa, pb) bounds the overlap
    * by 1 + min(la − pa, lb − pb) — valid at the pair's FIRST matching
    * token because any earlier common token would sit earlier in BOTH
    * sorted sets (same global order) and so inside both prefixes,
    * contradicting "first" — and a pair survives if ANY of its
    * matching rows passes, so the first-match bound is always applied
    * and recall stays exact. The required-overlap threshold
    * ⌈θ/(1+θ)·(la+lb)⌉ takes a 1e-9 slack before ceil so a
    * representation error in the product can only LOOSEN the filter
    * (θ=0.6 ⇒ factor 0.375 is exactly representable anyway). On a
    * template-heavy corpus (shared boilerplate makes even the rarest
    * prefix tokens common) this cuts candidates several-fold where the
    * df-order alone saturates.
    *
    * Scale shape: token stream → two window passes (per-doc length,
    * per-token df — both single key shuffles) into a PERSISTED prefix
    * table (the self-join references it twice and exchange reuse does
    * NOT cover the window subtree — unpersisted, the whole
    * text→shingle→window pipeline re-executes per side, measured 4×
    * the query), prefix self-join by token, then a per-pair verify
    * over PERSISTED packed per-doc token-hash arrays:
    * |a∩b| via `array_intersect` on xxhash64'd shingles (longs — a
    * string-array intersect measured ~10× slower at 2.4M pairs) and
    * J = inter / (la + lb − inter), so no union pass. Hashing is safe
    * for the exact-result claim to ~1e-12: a false merge needs an
    * xxhash64 collision WITHIN one compared pair's ≤10³-token union,
    * P ≈ Σ_pairs |union|²/2⁶⁴. Work is Σ prefix-bucket², never n².
    * Output: (id_a, id_b, jaccard_sim), a < b.
    */
  def prefixFilterJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int,
      threshold: Double,
      maxCandidatePairs: Option[Long] = Some(50000000L)): DataFrame =
    prefixFilterJaccardRun(
      df, idCol, textCol, shingleWidth, threshold, maxCandidatePairs).result

  /** [[prefixFilterJaccard]] plus the handle releasing the internally
    * cached prefix and token-hash-array tables.
    */
  final class PrefixJoinRun private[operators] (
      val result: DataFrame,
      pref: DataFrame,
      hdocs: DataFrame) {
    /** Unpersist the cached prefix/array tables (call after materializing). */
    def release(): Unit = { pref.unpersist(); hdocs.unpersist(): Unit }
  }

  /** `maxCandidatePairs`: the self-detonation guard. Exact-recall
    * prefix joins CANNOT drop oversized buckets (unlike LSH's
    * `maxBucket` — dropping a prefix bucket here loses pairs), so on a
    * template-degenerate corpus (shared boilerplate makes even the
    * rarest prefix tokens common) the only honest behaviors are
    * running the blow-up or refusing. The guard measures the exact
    * candidate volume Σ bucket·(bucket−1)/2 with one aggregate over
    * the (already persisted) prefix table — paid once, before any
    * join — and THROWS past the cap, naming [[minhashNearDup]] as the
    * scale path. Measured detonation this guards: 227× time ratio at a
    * 10× scale-up (1.85 s → 420 s) when prefix buckets reached
    * cluster size (Σ bucket² ≈ all-pairs/5). `None` disables (audit
    * runs on samples that accept the quadratic cost).
    */
  def prefixFilterJaccardRun(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int,
      threshold: Double,
      maxCandidatePairs: Option[Long] = Some(50000000L)): PrefixJoinRun = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.SparkUtil.ensureParallelism(df)
    // shinglesOf(distinct = true) already dedups — no array_distinct
    // wrap (one less pass over every shingle array).
    val shingleExpr = Texts.shinglesOf(col(textCol), shingleWidth)
    val toks = base
      .select(col(idCol).as("id"), explode(shingleExpr).as("tok"))
    // Window ORDER matters (guide §2.4: operations keyed the same way
    // share one exchange): tdf (by tok) FIRST, then len + rn — BOTH
    // id-partitioned, so they stack over ONE Exchange(id)+Sort. The
    // original len → tdf → rn order alternated id → tok → id and paid
    // a third full-stream exchange + sort (measured in
    // plans/r20/q120_prefix_jaccard_join_before.txt: Exchange (9),
    // (14), (19) all at token grain).
    val pref = toks
      .withColumn("tdf", count(lit(1)).over(Window.partitionBy("tok")))
      .withColumn("len", count(lit(1)).over(Window.partitionBy("id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("tdf"), col("tok"))))
      .where(col("rn") <= col("len") - ceil(col("len") * threshold) + 1)
      .select(col("id"), col("tok"), col("len"), col("rn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    maxCandidatePairs.foreach { cap =>
      val volume = Option(
        pref.groupBy("tok").agg(count(lit(1)).as("b"))
          .agg(sum(expr("b * (b - 1) div 2")).as("p"))
          .head().getAs[java.lang.Long]("p"))
        .map(_.longValue()).getOrElse(0L)
      if (volume > cap) {
        pref.unpersist()
        throw new IllegalStateException(
          s"prefixFilterJaccard would enumerate $volume candidate pairs " +
            s"(> maxCandidatePairs=$cap): the corpus is template-" +
            "degenerate (prefix buckets are cluster-sized). Use the LSH " +
            "path (minhashNearDup) at this scale, run the exact join on " +
            "a sample, or raise/disable maxCandidatePairs to accept the " +
            "quadratic cost.")
      }
    }
    // required overlap for Jaccard >= θ: ⌈θ/(1+θ)·(la+lb)⌉
    val alpha = ceil(
      (col("a.len") + col("b.len")) * lit(threshold / (1.0 + threshold)) -
        lit(1e-9))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .where(least(col("a.len"), col("b.len")).cast("double") /
        greatest(col("a.len"), col("b.len")) >= threshold &&
        lit(1) + least(col("a.len") - col("a.rn"),
          col("b.len") - col("b.rn")) >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // sort ONCE per doc so every candidate pair verifies with the
    // allocation-free two-pointer kernel below instead of
    // array_intersect's per-pair hash set + materialized array
    // (identical DISTINCT-common count — see SortedLongIntersectSize;
    // measured 2.37M candidate pairs against 5 000 docs at sf0.1, so
    // per-pair cost dominates the whole verify stage).
    val hdocs = toks
      .select(col("id"), xxhash64(col("tok")).as("h"))
      .groupBy("id")
      .agg(count(lit(1)).as("len"),
        sort_array(collect_list(col("h"))).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def interSize(a: Column, b: Column): Column =
      org.apache.spark.sql.graft.ColumnShim.column(
        graft.functions.expressions.SortedLongIntersectSize(
          org.apache.spark.sql.graft.ColumnShim.expression(a),
          org.apache.spark.sql.graft.ColumnShim.expression(b)))
    val result = cand
      .join(hdocs.select(col("id").as("id_a"), col("len").as("la"),
        col("sh").as("sh_a")), "id_a")
      .join(hdocs.select(col("id").as("id_b"), col("len").as("lb"),
        col("sh").as("sh_b")), "id_b")
      .withColumn("inter", interSize(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("la") + col("lb") - col("inter"))).as("j"))
      .where(col("j") >= threshold)
      .select(col("id_a"), col("id_b"),
        Numerics.fix4(col("j")).as("jaccard_sim"))
    new PrefixJoinRun(result, pref, hdocs)
  }

  /** (id, band, key) band signature rows — the joinable LSH form shared
    * by full and incremental candidate generation.
    */
  def bandedSignatures(
      df: DataFrame,
      id: Column,
      shingles: Column,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    // Shingle-less docs (shorter than the shingle width) simply vanish
    // at the explode — they can never reach a Jaccard threshold anyway.
    val withSig = minhashSignatures(df, id, shingles, bands * rowsPerBand)
    val bandKeys = (0 until bands).map { b =>
      concat_ws("|",
        (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}")): _*)
    }
    withSig
      .select(col("id"), posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
  }

  /** LSH candidate pairs: band the signature (`bands` bands of
    * `rowsPerBand` hashes), explode to (band, key), self-join within
    * (band, key) buckets only. `maxBucket` (optional) drops degenerate
    * buckets — the production skew guard for adversarial corpora; off by
    * default so results stay exactly reproducible.
    */
  def lshCandidates(
      df: DataFrame,
      id: Column,
      shingles: Column,
      bands: Int,
      rowsPerBand: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    val banded0 = bandedSignatures(df, id, shingles, bands, rowsPerBand)
    val banded = maxBucket match {
      case Some(cap) =>
        // One extra aggregation to measure buckets; giant buckets are
        // degenerate (boilerplate shingles) and would blow up pair count.
        val sizes = banded0.groupBy("band", "key").count()
          .where(col("count") <= cap).drop("count")
        banded0.join(sizes, Seq("band", "key"))
      case None => banded0
    }
    val a = banded.select(col("band"), col("key"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("key"), col("id").as("id_b"))
    a.join(b, Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline over (id, text): returns
    * verified pairs (id_a, id_b, jaccard_sim) with exact shingle-set
    * Jaccard >= threshold. The verify join touches only candidate pairs.
    */
  def minhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 3,
      threshold: Double = 0.6,
      maxBucket: Option[Int] = None): DataFrame = {
    val base = graft.SparkUtil.ensureParallelism(df)
    val shingleExpr =
      Texts.shinglesOf(col(textCol), shingleWidth)
    val candidates =
      lshCandidates(base, col(idCol), shingleExpr, bands, rowsPerBand, maxBucket)
    // Verify joins shingle the full corpus once, map-side, in the same
    // stage as the join shuffle — ONE pass over the text. (An explicit
    // candidate-id semi-join before shingling was measured SLOWER here:
    // it re-executes the candidate pipeline and shuffles the raw text
    // an extra time; with sparse duplicates the Spark-native answer is
    // the runtime bloom filter — `spark.sql.optimizer.runtime
    // .bloomFilter.enabled` — which prunes the docs side map-side with
    // no extra shuffle. The incremental path keeps the semi-join
    // because its base side has no signatures to re-derive candidates
    // from.)
    val docs = base.select(col(idCol).as("id"), shingleExpr.as("shingles"))
    val shA = docs.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val shB = docs.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates
      .join(shA, "id_a")
      .join(shB, "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        Texts.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(
        col("id_a"),
        col("id_b"),
        Numerics.fix4(col("jaccard")).as("jaccard_sim"))
  }

  /** MinHash calibration audit — the honesty instrument for the
    * ESTIMATOR itself (the companion to q126's ANN recall audit): for
    * every verified near-dup pair, the k-seed minhash estimate of
    * Jaccard (fraction of seeds whose min-shingle-hash agrees) next to
    * the exact set Jaccard and the absolute error. This is the
    * measured number that justifies a (bands, rowsPerBand) choice at
    * scale — E[est] = J per seed, so the audit's error distribution is
    * the banding model's input, observed on the real corpus instead of
    * assumed.
    *
    * The audit family is [[graft.functions.Hashes.hexHash]] (md5-
    * prefix, seed-prefixed) rather than the xxhash64 affine family the
    * candidate generator uses: fixed-width hex minima compare
    * lexicographically == numerically, and DuckDB computes the
    * bit-identical value — so the estimate itself is oracle-checkable,
    * which an engine-specific hash can never be.
    *
    * est = matches/k is exact in 4 decimals for k ≤ 16 (1/16 =
    * 0.0625), and `abs_err` derives from the two ALREADY-fix4'd output
    * columns, so every emitted value is engine-exact. One extra
    * signature aggregate (k string-mins over the shingle stream) + two
    * hash joins against the (output-bound) pair set.
    */
  def minhashCalibration(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      threshold: Double = 0.6,
      numHashes: Int = 16): DataFrame = {
    require(numHashes >= 1 && numHashes <= 64, "numHashes in [1, 64]")
    val base = graft.SparkUtil.ensureParallelism(df)
    val shingleExpr =
      Texts.shinglesOf(col(textCol), shingleWidth)
    val pairs = minhashNearDup(df, idCol, textCol, shingleWidth,
      threshold = threshold)
    val aggs = (0 until numHashes)
      .map(i => min(graft.functions.Hashes.hexHash(col("sh"), i)).as(s"m$i"))
    val sigs = base
      .select(col(idCol).as("id"), explode(shingleExpr).as("sh"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
    def side(tag: String) = sigs.select(
      col("id").as(s"id_$tag") +:
        (0 until numHashes).map(i => col(s"m$i").as(s"${tag}_m$i")): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(side("a"), "id_a")
      .join(side("b"), "id_b")
      .select(col("id_a"), col("id_b"),
        col("jaccard_sim").as("exact_sim"),
        Numerics.fix4(matches.cast("double") / numHashes).as("est_sim"))
      .withColumn("abs_err",
        Numerics.fix4(abs(col("exact_sim") - col("est_sim"))))
  }

  /** Fuzzy-match near-dup with an edit-distance cap: the MinHash-LSH
    * candidate pipeline of [[minhashNearDup]] (same recall argument —
    * candidates cover every pair at or above the Jaccard threshold),
    * verified by BOTH exact shingle-set Jaccard >= `threshold` AND
    * `levenshtein(text_a, text_b) <= maxDist`. Levenshtein is
    * O(|a|·|b|) per pair, so it runs LAST, on Jaccard-verified pairs
    * only — at 100 TB the quadratic kernel touches a vanishing
    * fraction of the corpus while the cheap set math prunes first.
    * Output: (id_a, id_b, edit_dist), id_a < id_b.
    */
  def editDistanceNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 3,
      threshold: Double = 0.6,
      maxDist: Int = 6,
      maxBucket: Option[Int] = None): DataFrame = {
    val base = graft.SparkUtil.ensureParallelism(df)
    val shingleExpr =
      Texts.shinglesOf(col(textCol), shingleWidth)
    val candidates =
      lshCandidates(base, col(idCol), shingleExpr, bands, rowsPerBand, maxBucket)
    val docs = base.select(
      col(idCol).as("id"), col(textCol).as("txt"), shingleExpr.as("shingles"))
    val a = docs.select(
      col("id").as("id_a"), col("txt").as("txt_a"), col("shingles").as("sh_a"))
    val b = docs.select(
      col("id").as("id_b"), col("txt").as("txt_b"), col("shingles").as("sh_b"))
    candidates
      .join(a, "id_a")
      .join(b, "id_b")
      // Length gate first: |len(a) − len(b)| > maxDist already implies
      // dist > maxDist (each edit changes length by at most 1), and
      // length() is O(1) on UTF8String — candidates that can't pass
      // never reach the O(n) set math or the DP kernel.
      .where(abs(length(col("txt_a")) - length(col("txt_b"))) <= maxDist &&
        Texts.jaccard(col("sh_a"), col("sh_b")) >= threshold)
      // The distance kernel never runs the full O(|a|·|b|) DP:
      // byte-identical pairs (exact copies dominate real near-dup
      // corpora) short-circuit to 0 via an O(n) equality check, and the
      // rest use the BANDED levenshtein (threshold arg) — O(n·maxDist)
      // per pair, returning -1 past the cap. Measured at 10× scale
      // (45× true-pair growth from planted exact copies): full DP 65 s
      // → banded+fast-path 10 s, same output.
      .select(
        col("id_a"), col("id_b"),
        when(col("txt_a") === col("txt_b"), 0)
          .otherwise(levenshtein(col("txt_a"), col("txt_b"), maxDist))
          .as("edit_dist"))
      // ONE conjunct on the aliased kernel: predicate pushdown inlines
      // the alias into the Filter per occurrence, so `>= 0 AND
      // <= maxDist` ran the whole when/levenshtein expression TWICE per
      // candidate row (measured +77% warm at sf0.1, round 6). The
      // banded kernel already returns -1 past the cap, so >= 0 alone is
      // the exact same predicate at half the cost.
      .where(col("edit_dist") >= 0)
  }

  /** Precompute the (id, band, key) band signatures for a corpus — the
    * state a production incremental pipeline PERSISTS between batches
    * (write this DataFrame out once; per batch, read it back and append
    * [[IncrementalDedup.freshSignatures]]).
    */
  def bandSignaturesFor(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 3): DataFrame =
    bandedSignatures(
      graft.SparkUtil.ensureParallelism(df),
      col(idCol),
      Texts.shinglesOf(col(textCol), shingleWidth),
      bands, rowsPerBand)

  /** One incremental batch's output: verified near-dup `pairs` touching
    * the fresh batch, plus the fresh batch's band `freshSignatures` —
    * append the latter to the stored base signatures so the NEXT batch
    * never re-signatures this one. The operator persists two small
    * intermediates (fresh signatures, candidate pairs); call
    * [[release]] once the batch's outputs are materialized.
    */
  final class IncrementalDedup private[operators] (
      val pairs: DataFrame,
      val freshSignatures: DataFrame,
      candidates: DataFrame,
      needed: DataFrame) {
    /** Unpersist the operator's cached intermediates. */
    def release(): Unit = {
      candidates.unpersist()
      freshSignatures.unpersist()
      needed.unpersist(): Unit
    }
  }

  /** Incremental near-dedup against PRECOMPUTED base band signatures:
    * fresh×base and fresh×fresh, never base×base — and, critically,
    * never re-signaturing the base. Per-batch work is O(fresh) signature
    * computation + one probe join against the stored signatures + exact
    * verification of the candidate pairs only (`baseDocs` text is
    * shingled ONLY for ids that appear in some candidate pair, via a
    * semi join — at 100 TB the base scan streams but the expensive
    * shingle+Jaccard math touches candidates alone).
    *
    * Output pairs match [[minhashNearDup]] restricted to pairs with at
    * least one fresh member: (id_a, id_b, jaccard_sim), id_a < id_b.
    * Ids must be unique across base ∪ fresh.
    */
  def incrementalNearDupFromSignatures(
      baseSignatures: DataFrame,
      baseDocs: DataFrame,
      fresh: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 3,
      threshold: Double = 0.6): IncrementalDedup = {
    val shingleExpr =
      Texts.shinglesOf(col(textCol), shingleWidth)
    val freshP = graft.SparkUtil.ensureParallelism(fresh)
    // Both intermediates are persisted: they are referenced several
    // times downstream (candidates: probe side + both verify joins;
    // fresh signatures: candidate generation + the returned state), and
    // each plan reference would otherwise clone the whole signature
    // pipeline — tiny tables ((id,band,key) / id pairs), standard
    // iterative-operator caching. Released via IncrementalDedup.release().
    val fb = bandedSignatures(
      freshP, col(idCol), shingleExpr, bands, rowsPerBand).persist()
    val allB = baseSignatures.select("id", "band", "key").unionAll(fb)
    val candidates = fb.select(col("band"), col("key"), col("id").as("id_f"))
      .join(allB.select(col("band"), col("key"), col("id").as("id_o")),
        Seq("band", "key"))
      .where(col("id_f") =!= col("id_o"))
      .select(
        least(col("id_f"), col("id_o")).as("id_a"),
        greatest(col("id_f"), col("id_o")).as("id_b"))
      .distinct()
      .persist()
    // Verify only candidates: semi-join the text sources down to ids
    // that appear in some pair BEFORE shingling, so the interpreted
    // shingle tree runs on candidate rows, not the whole corpus.
    val candIds = candidates.select(col("id_a").as("cid"))
      .unionAll(candidates.select(col("id_b").as("cid")))
      .distinct()
    val allDocs = baseDocs.select(col(idCol).as("id"), col(textCol).as("t"))
      .unionAll(freshP.select(col(idCol).as("id"), col(textCol).as("t")))
    // Persisted like the other two intermediates: BOTH verify sides
    // (shA/shB) reference it, so unpersisted the semi-join + the
    // interpreted shingle tree ran twice per batch (measured ~40% of
    // the q196 per-batch cost). Candidate-bound rows — tiny.
    val needed = allDocs
      .join(candIds, allDocs("id") === candIds("cid"), "left_semi")
      .select(col("id"),
        Texts.shinglesOf(col("t"), shingleWidth).as("shingles"))
      .persist()
    val shA = needed.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val shB = needed.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    val pairs = candidates
      .join(shA, "id_a")
      .join(shB, "id_b")
      .select(col("id_a"), col("id_b"),
        Texts.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        Numerics.fix4(col("jaccard")).as("jaccard_sim"))
    new IncrementalDedup(pairs, fb, candidates, needed)
  }

  /** Incremental near-dedup, end-to-end convenience: signatures the
    * base in-line (first batch / no stored state yet). NOTE: this
    * wrapper discards the [[IncrementalDedup]] handle, so the
    * operator's two small persisted intermediates stay cached for the
    * session. Steady-state pipelines should persist
    * [[bandSignaturesFor]] output once and call
    * [[incrementalNearDupFromSignatures]] per batch instead — that
    * path never recomputes base signatures AND exposes `release()`.
    */
  def incrementalNearDup(
      base: DataFrame,
      fresh: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 3,
      threshold: Double = 0.6): DataFrame =
    incrementalNearDupFromSignatures(
      bandSignaturesFor(base, idCol, textCol, shingleWidth, bands, rowsPerBand),
      base, fresh, idCol, textCol, shingleWidth, bands, rowsPerBand,
      threshold).pairs

  /** Connected components over a VERIFIED pair graph: every id in
    * `allIds` gets a cluster label = min reachable id (singletons keep
    * their own id). Takes the pairs as an input DataFrame so a pipeline
    * that already materialized [[minhashNearDup]] output (or stored it
    * as a table) resolves clusters without re-running the LSH pipeline.
    *
    * Iterative min-label propagation (the GraphX/GraphFrames CC shape)
    * over ONLY the paired subgraph — at corpus scale orders of
    * magnitude smaller than the corpus; every unpaired doc is trivially
    * its own singleton (joined back in at the end). Each round is one
    * hash join + a min-aggregate; rounds needed = graph diameter
    * (near-dup clusters are near-cliques, so 1-2).
    *
    * Fault tolerance at 100 TB: when the SparkContext has a checkpoint
    * dir configured, each round is RELIABLY checkpointed (survives
    * executor loss — never `localCheckpoint`, whose blocks die with
    * their executor); otherwise rounds round-trip through scratch
    * parquet, which equally truncates lineage (persist() does not:
    * each round's plan would still chain the caller's whole pair
    * pipeline, and a 20-round chain over a heavy LSH subtree OOMed a
    * 1G JVM on plan bookkeeping alone). The fixpoint signal is an
    * exact changed-label count (no overflow-prone checksum
    * arithmetic), and exhausting `maxIter` without convergence THROWS
    * instead of silently returning wrong clusters.
    */
  def clustersFromPairs(
      allIds: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val spark = allIds.sparkSession
    // Round state gets FILE-TRUNCATED lineage, the same discipline as
    // Graphs.kcoreDegreesRun: persist() keeps each round's PLAN chained
    // on everything before it, and when the pair source is a heavy
    // expression subtree (q141's 16-hyperplane LSH literals) a
    // 20-round chain OOMed a 1G bench JVM on plan bookkeeping alone.
    // ScratchSpace.Rounds makes every round a flat file scan, under a
    // root that is cluster-safe whenever spark.graft.scratch.dir points
    // at shared storage.
    val rounds = new graft.ScratchSpace.Rounds(spark, "cc_")
    val sym = pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .unionAll(pairs.select(col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst")))
    // Self-loop edges make each round a SINGLE join + aggregate that
    // references the previous labels exactly once: min-over-neighbors
    // includes the node's own label via its self-loop. (Referencing
    // labels twice — own ∪ messages — doubles the logical plan per
    // round: exponential tree growth that OOMs plan stringification on
    // long chains even when every round's data is persisted.)
    val edges = rounds.materialize(
      sym.unionAll(sym.select(col("src"))
        .distinct().select(col("src"), col("src").as("dst"))))
    val edgeCount = edges.count()
    // Singletons rejoin here. Every round (including the final labels)
    // is a flat file — scratch parquet for the JVM's life, or reliable
    // checkpoint files — so the result reads one small table, with no
    // residual lineage into the caller's pair pipeline.
    def withSingletons(labels: DataFrame): DataFrame =
      allIds.select(col(idCol).cast("long").as("id"))
        .join(labels.select(col("id"), col("label")), Seq("id"), "left")
        .select(col("id").as(idCol),
          coalesce(col("label"), col("id")).as("cluster_id"))
    // ADAPTIVE SMALL-GRAPH PATH (LocalGraph): the distributed loop
    // below costs rounds x fixed job latency (scratch round-trip +
    // convergence count), which dominates on a tiny pair graph.
    LocalGraph.load("clustersFromPairs", edges, edgeCount) match {
      case Some(g) =>
        // LocalRelation labels: the rejoin broadcasts them, no shuffle
        return withSingletons(g.frame("label", g.minLabels()))
      case None =>
    }
    var labels = rounds.materialize(
      edges.where(col("src") === col("dst"))
        .select(col("src").as("id"), col("src").as("label")))
    var converged = false
    var iter = 0
    // The loop's tables are PAIRED-SUBGRAPH-sized (orders of magnitude
    // under the corpus), but every round schedules several jobs, so at
    // default widths the fixed per-task cost dominates — scope the
    // shuffle width to the edge count for the loop's duration
    // (restored after), the same discipline as the streaming drain's
    // state-store sizing. ~64k edges per partition keeps partitions
    // MB-sized; a billion-edge pair set still gets thousands of tasks.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(1L, math.min(prevShuffle.toLong,
        edgeCount / 65536L + 1L)).toString)
    try {
    while (!converged && iter < maxIter) {
      val stepped = rounds.materialize(
        edges.join(labels.select(col("id").as("src"), col("label")), "src")
          .groupBy(col("dst"))
          .agg(
            min(col("label")).as("label"),
            // the self-loop carries the node's own previous label, so
            // the round result itself answers "did anything change"
            min(when(col("src") === col("dst"), col("label")))
              .as("prev_label"))
          .select(col("dst").as("id"), col("label"), col("prev_label")))
      // exact fixpoint: #nodes whose label still dropped this round.
      // Valid regardless of the jump below: a no-change EDGE step means
      // adjacent labels are pairwise equal, so each component is
      // already uniform at its min.
      val changed = stepped.where(col("label") < col("prev_label")).count()
      converged = changed == 0L
      labels =
        if (converged) stepped
        // pointer jump (label doubling): label := label(label).
        // Labels only ever decrease toward the component min, and
        // chasing one indirection ~doubles the propagated distance
        // per round, so long-chain components converge in
        // O(log diameter) rounds instead of O(diameter) — the regime
        // the semantic CC (q141) lives in, where low-threshold
        // components are paths, not cliques. The jump stays LAZY:
        // `stepped` is already a flat file scan, so the self-join adds
        // one constant level of lineage per round (no growth) and
        // skips a second materialization round-trip. Every label value
        // is a node id with its own row, so the lookup is total; the
        // left join + coalesce only guards the stepped frontier.
        else stepped
          .join(
            stepped.select(col("id").as("jid"), col("label").as("jlabel")),
            col("label") === col("jid"), "left")
          .select(col("id"),
            coalesce(col("jlabel"), col("label")).as("label"))
      iter += 1
    }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    if (!converged) {
      throw new IllegalStateException(
        s"clustersFromPairs did not converge in $maxIter rounds — the " +
          "duplicate graph's diameter exceeds maxIter; raise maxIter")
    }
    withSingletons(labels)
  }

  /** Incremental cluster maintenance — fold a NEW batch of verified
    * pairs (e.g. one [[graft.streaming.StreamingOps.nearDupSink]]
    * emission) into an existing cluster labeling without touching the
    * historical pair store. The old labeling is replaced by its STAR
    * reduction (one id→cluster_id edge per non-singleton member),
    * which preserves old connectivity exactly, so components over
    * (star ∪ newPairs) equal components over (all old pairs ∪
    * newPairs) — the full-recompute result, provably (connectivity is
    * all CC consumes, and the node set is identical so min labels
    * agree). Work is O(labeled non-singletons + new batch), never
    * O(pair history); with the adaptive small-graph path the steady
    * state is a driver union-find over a star forest.
    *
    * `newIds` carries the batch's doc ids so pairless new docs still
    * emit as singletons. Output: (idCol, cluster_id) over
    * labels ∪ newIds.
    */
  def mergeClusters(
      labels: DataFrame,
      idCol: String,
      clusterCol: String,
      newIds: DataFrame,
      newPairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val star = labels
      .where(col(idCol).cast("long") =!= col(clusterCol).cast("long"))
      .select(col(idCol).cast("long").as("id_a"),
        col(clusterCol).cast("long").as("id_b"))
    val allIds = labels.select(col(idCol).cast("long").as("id"))
      .unionAll(newIds.select(col(idCol).cast("long").as("id")))
      .distinct()
    clustersFromPairs(allIds, "id",
      star.unionAll(newPairs.select(
        col("id_a").cast("long"), col("id_b").cast("long"))),
      maxIter)
      .withColumnRenamed("id", idCol)
  }

  /** Duplicate-cluster resolution end-to-end: LSH near-dup pairs (run
    * once — [[clustersFromPairs]] materializes them as its edge set)
    * then connected components. Pipelines that already stored verified
    * pairs should call [[clustersFromPairs]] directly.
    */
  def dupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 3,
      threshold: Double = 0.6,
      maxIter: Int = 20): DataFrame = {
    // Digest-collapse exact replicas BEFORE the LSH pair pipeline (the
    // q141/q176 production rule): replicated crawls make every LSH
    // bucket replica-factor bigger, so candidate volume grows with the
    // SQUARE of the replication (a raw-doc q169/q170 run blew a 10-min
    // 100x-sweep slot). The collapse is provably output-identical:
    // jaccard(replica, replica) = 1 ≥ any threshold ≤ 1, so each
    // replica group is an intra-connected clique that connects
    // identically to the rest of the graph, and because each
    // representative is its group's MIN id, the component's min-rep
    // label equals the full graph's min-member label.
    // The collapsed corpus is FILE-TRUNCATED to scratch parquet before
    // the LSH pipeline (the same discipline as clustersFromPairs'
    // rounds): minhashNearDup references its input several times
    // (signatures, verify, doc expansion), and with the digest join in
    // the lineage each reference re-runs scan+agg+join — measured
    // 2.6 → 11.2 s at sf0.1 (persist() was no better, 12.6 s: an
    // InMemoryRelation of doc text scans slower than parquet). A flat
    // scratch file restores the plain-scan plan shape under every
    // reference; the one-time write is the collapsed corpus only.
    val spark = df.sparkSession
    // Null text is digested as the EMPTY document (md5(coalesce(t,'')))
    // so every input id survives to the output — a plain md5(null) key
    // would null out of the final equi-join and silently drop the row
    // (total-over-input contract). This also means null-text docs
    // collapse into the empty-text replica group rather than staying
    // singletons: for near-dup purposes "no text" and "empty text"
    // carry identical (zero) shingle content, so grouping them is the
    // semantically honest choice (DedupSpec pins it).
    val dg = graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol),
        md5(coalesce(col(textCol), lit(""))).as("__dg"))
    val rep = dg.groupBy("__dg").agg(min(col(idCol)).as("__rep"))
    // Scratch via the session-configurable root (ScratchSpace: conf →
    // checkpoint dir → per-JVM local temp with ONE shutdown hook) —
    // cluster deployments point spark.graft.scratch.dir at shared
    // storage; repeated calls no longer stack JVM shutdown hooks. The
    // subdir cannot be eagerly deleted: the RETURNED DataFrame still
    // references the collapsed parquet lazily.
    val repPath =
      s"${graft.ScratchSpace.dir(spark, "dupc_")}/collapsed"
    // only (id, text) ride to scratch — the pipeline needs nothing else
    df.select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
      .join(rep.select(col("__rep").as(idCol)), idCol)
      .write.mode("overwrite").parquet(repPath)
    val repDocs = spark.read.parquet(repPath)
    val pairs = minhashNearDup(
      repDocs, idCol, textCol, shingleWidth, bands, rowsPerBand, threshold)
      .select(col("id_a"), col("id_b"))
    val repClusters = clustersFromPairs(
      repDocs.select(col(idCol)), idCol, pairs, maxIter)
    dg.join(rep, "__dg")
      .join(repClusters.withColumnRenamed(idCol, "__rep"), "__rep")
      .select(col(idCol), col("cluster_id"))
  }

  /** Keep-best-per-near-dup-cluster — q159's survivor policy lifted
    * from exact-digest grain to CLUSTER grain (the Dolma/CCNet "keep
    * one representative per duplicate group" curation step): per
    * cluster, the member with the highest `score` wins, lowest id
    * breaking ties. Prefer an exact-integer score (token count, byte
    * length) so the winner is engine-exact.
    *
    * Scale shape: clusters come from the paired-subgraph CC loop
    * ([[clustersFromPairs]]); the winner is ONE max-of-struct hash
    * aggregate at cluster grain — no window sort over the corpus, no
    * per-cluster shuffle beyond the aggregate's partials. Output:
    * (clusterCol, kept_id, kept_score, n_members).
    */
  def clusterSurvivors(
      clustered: DataFrame,
      clusterCol: String,
      idCol: String,
      score: Column): DataFrame =
    graft.SparkUtil.ensureParallelism(clustered)
      .groupBy(clusterCol)
      .agg(
        max(struct(score.as("s"), (-col(idCol)).as("negid")))
          .as("w"),
        count(lit(1)).as("n_members"))
      .select(
        col(clusterCol),
        (-col("w.negid")).as("kept_id"),
        col("w.s").as("kept_score"),
        col("n_members"))

  /** SimHash radius retrieval: all pairs within `maxHamming` bits of
    * each other's [[simhashSignatures]] signature — EXACT, not
    * approximate: the 16-bit signature splits into 4 nibble bands, and
    * by pigeonhole any pair differing in ≤3 bits agrees on at least
    * one whole band, so the band equi-join (ONE shuffle by
    * (band, key)) misses nothing for maxHamming ≤ 3; bit_count(xor)
    * verifies the exact distance within buckets. Scale note: band
    * width must grow with log2(n) to keep Σ bucket² flat (same sizing
    * law as the MinHash bands, SURVEY §6) — widen the signature before
    * widening the corpus. Output: (id_a, id_b, hamming), id_a < id_b.
    */
  def simhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 1,
      shingleWidth: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 nibble bands guarantee exactness only for maxHamming in [0,3], got $maxHamming")
    val sigs = simhashSignatures(df, idCol, textCol, shingleWidth)
    // Candidate generation runs on DISTINCT signatures, never docs:
    // duplicate-heavy corpora collapse to ≤2^16 sig values, so the
    // band join's Σ bucket² is bounded by the signature space while
    // the doc-level expansion below is bounded by the OUTPUT (every
    // expanded row IS a result pair). Measured at 10× (50k docs, ~10
    // copies each, 611k result pairs): doc-level banding 21 s →
    // sig-level ~10 s warm, of which the q22 signature pass itself is
    // ~4.4 s — the near-dup overhead is output expansion, not Σ bucket².
    val uniq = sigs.select("simhash").distinct()
    val banded = uniq.select(
      col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), 4 * b).bitwiseAND(0xF).as("key"))): _*))
        .as("bk"))
      .select(col("simhash"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val sigPairs = banded.select(
        col("band"), col("key"), col("simhash").as("sig_a"))
      .join(banded.select(
        col("band"), col("key"), col("simhash").as("sig_b")),
        Seq("band", "key"))
      .where(col("sig_a") < col("sig_b"))
      .select("sig_a", "sig_b")
      .distinct() // a sig pair can match on several bands
      .select(col("sig_a"), col("sig_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
    // expand sig pairs to doc pairs (hamming carried over), plus the
    // within-identical-signature pairs (hamming 0)
    val cross = sigPairs
      .join(sigs.select(col("simhash").as("sig_a"), col("id").as("ia")), "sig_a")
      .join(sigs.select(col("simhash").as("sig_b"), col("id").as("ib")), "sig_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    val same = sigs.select(col("simhash"), col("id").as("id_a"))
      .join(sigs.select(col("simhash"), col("id").as("id_b")), Seq("simhash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    cross.unionByName(same)
  }

  /** SimHash dedup view over (id, text): 16-bit per-doc signature, set
    * bit k when Σ_shingles (2·bit_k(md5) − 1) > 0. Same explode →
    * codegen'd sum-aggregate shape as MinHash (md5 computed once per
    * shingle; the Aggregate boundary stops projection re-inlining).
    * `explode_outer` keeps shingle-less docs with signature 0, matching
    * the SQL oracle's empty-list semantics.
    */
  def simhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWidth: Int = 3): DataFrame = {
    val shingleExpr =
      Texts.shinglesOf(col(textCol), shingleWidth)
    val perShingle = graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol).cast("long").as("id"),
        explode_outer(shingleExpr).as("sh"))
      .select(col("id"), Hashes.md5Bits60(col("sh")).as("h"))
    // sig bit k = bit (k%4) of md5 hex digit (1+k/4); over the 60-bit
    // numeric form that's one shift+mask per bit instead of per-bit
    // string surgery (substring+instr) — ~3× less per-shingle work.
    val bitSums = (0 until 16).map { k =>
      val shift = (14 - k / 4) * 4 + k % 4
      sum(shiftright(col("h"), shift).bitwiseAND(1) * 2 - 1).as(s"bs_$k")
    }
    perShingle
      .groupBy("id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col("id"),
        (0 until 16)
          .map(k => when(col(s"bs_$k") > 0, lit(1 << k)).otherwise(lit(0)))
          .reduce(_ + _)
          .as("simhash"))
  }

  /** Survivor selection — the policy step after duplicate detection:
    * within each exact-duplicate group (normalized-text digest), keep
    * the highest-quality copy (score desc, then id asc — the score is
    * fix4-rounded upstream so cross-engine ties break identically).
    * q20/q35 keep FIRST/LATEST; this keeps BEST, the policy a training
    * mix actually wants when replicas differ in upstream cleaning.
    *
    * Scale shape: one digest shuffle + one window per group; output is
    * one row per distinct document.
    */
  /** Banded Hamming-distance pair search over 64-bit fingerprints —
    * the EXACT radius join for [[graft.multimodal.Multimodal.dHash64]]
    * image hashes (and any 64-bit sketch): split each hash into
    * `maxHamming + 1` contiguous bit bands; two hashes within the
    * radius MUST agree on at least one whole band (pigeonhole — ≤
    * maxHamming differing bits cannot touch all maxHamming+1 bands),
    * so ONE shuffle by (band, band-bits) generates a complete
    * candidate set and the `bit_count(xor)` verify keeps exactly the
    * true pairs. Exact recall by construction, like the SimHash
    * radius search (row 88), not probabilistic like MinHash banding.
    *
    * 100 TB shape: cost is Σ bucket² over (band, value) buckets —
    * band width 64/(k+1) bits caps the value space per band; a
    * degenerate corpus (all-identical hashes) degrades to the true
    * pair count, which IS the output. Output: (id_a, id_b, hamming)
    * with id_a < id_b.
    */
  def hammingPairs64(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 16,
      "maxHamming must be in [0, 16] (band width 64/(k+1) must stay selective)")
    val nBands = maxHamming + 1
    val bands = (0 until nBands).map { i =>
      val lo = i * 64 / nBands
      val hi = (i + 1) * 64 / nBands
      val mask = if (hi - lo >= 64) -1L else (1L << (hi - lo)) - 1L
      struct(lit(i).as("bk"),
        shiftrightunsigned(col(hashCol), lo).bitwiseAND(lit(mask)).as("bv"))
    }
    val e = graft.SparkUtil.ensureParallelism(df)
      .where(col(hashCol).isNotNull)
      .select(col(idCol).as("id"), col(hashCol).as("h"),
        explode(array(bands: _*)).as("b"))
      .select(col("id"), col("h"),
        col("b.bk").as("bk"), col("b.bv").as("bv"))
    e.as("a").join(e.as("b"),
        col("a.bk") === col("b.bk") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.h").as("h_a"), col("b.h").as("h_b"))
      .distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(h_a ^ h_b) AS INT)"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  def survivorByScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("digest")
      .orderBy(col("sc").desc, col(idCol))
    graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol),
        md5(Texts.normText(col(textCol))).as("digest"),
        score.as("sc"))
      .withColumn("rn", row_number().over(w))
      .groupBy("digest")
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("sc")).as("best_quality"),
        max(when(col("rn") === 1, col(idCol))).as("survivor_doc_id"))
  }
}
