package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Text-analysis operators for large-scale training-data pipelines
  * (BASELINE.json north star): language-ID, quality scoring, token counting,
  * document fingerprinting. All pure `functions._` column expressions —
  * whole-stage-codegen'd, no UDFs, embarrassingly parallel over document
  * partitions (no shuffle except the final small aggregate).
  */
object TextAnalysis {

  /** Tokens = maximal runs of non-whitespace (a BPE-ish regex split would
    * swap the pattern here; the shape is identical). */
  def tokensCol(text: Column): Column = regexp_extract_all(text, lit("\\S+"), lit(0))
  def tokenCountCol(text: Column): Column = size(tokensCol(text))

  /** BPE-style PRE-tokenization (GPT-2-family shape, minus the lookahead —
    * RE2 engines don't support lookahead, and cross-engine agreement is
    * part of the contract here): runs of letters, runs of digits, runs of
    * other non-space symbols, each optionally absorbing one leading space.
    * This is the unit an actual BPE vocabulary would subdivide; counting
    * these approximates LLM token counts far better than whitespace
    * splitting (punctuation and digit runs count separately). */
  def bpeTokensCol(text: Column): Column =
    regexp_extract_all(text, lit(" ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"), lit(0))

  /** Occurrences of `marker` in `text` via the replace-length trick — exact,
    * codegen-friendly, and expressible identically in any SQL dialect.
    * Plain (non-regex) replace: markers are literals. */
  def occurrences(text: Column, marker: String): Column =
    (length(text) - length(call_function("replace", text, lit(marker))))
      ./(lit(marker.length)).cast("int")

  /** Per-language token totals. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCountCol(col("text"))).as("total_tokens"))

  /** Whitespace vs BPE-ish token accounting per language — the budget
    * numbers a training pipeline actually plans with. */
  def bpeTokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCountCol(col("text"))).as("ws_tokens"),
        sum(size(bpeTokensCol(col("text")))).as("bpe_tokens"))

  /** The pair-count step of BPE tokenizer training (catalog
    * `x_bpe_pair_stats`): global frequencies of adjacent symbol pairs
    * within pretokens, top-10 with deterministic tie-break — the argmax
    * input of one merge iteration. This IS the distributed half of BPE
    * training: pair counting scans the whole corpus (one explode + one
    * map-side-combined aggregate per iteration, exactly this plan);
    * applying the chosen merge is per-document local. Symbols start as
    * characters WITH the GPT-2-style leading-space convention — the
    * ` ?` in [[bpeTokensCol]] keeps the space attached to its word, so
    * " t" vs "t" count separately, as real byte-level BPE does.
    * Pretokens are materialized into their own projection before the
    * char split, and the split before the pair transform (the HOF
    * inlining trap on [[Dedup.bigramsFromTokens]]). */
  def bpePairStats(s: SparkSession, d: String): DataFrame = {
    val ch = documents(s, d)
      .select(explode(bpeTokensCol(col("text"))).as("t"))
      .select(split(col("t"), "").as("c"))
      .filter(size(col("c")) >= 2)
    val pairs = ch.select(explode(transform(sequence(lit(0), size(col("c")) - 2),
      i => concat(element_at(col("c"), i + 1), element_at(col("c"), i + 2)))).as("pair"))
    // top-10 via orderBy+limit → TakeOrderedAndProject (per-partition
    // heaps + driver merge). The rank is assigned on the DRIVER over the
    // collected top-10 (control-plane sized by construction) instead of a
    // partitionless rank window — a global Window.orderBy plans an
    // Exchange SinglePartition + sort even over 10 rows, and its "No
    // Partition Defined for Window" warning polluted every Verify log.
    val top = pairs.groupBy(col("pair")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair")).limit(10)
      .collect()
    import s.implicits._
    top.sortBy(r => (-r.getLong(1), r.getString(0))).zipWithIndex
      .map { case (r, i) => (r.getString(0), r.getLong(1), i + 1) }
      .toSeq.toDF("pair", "n_occurrences", "rnk")
  }

  /** BPE TRAINING, the map-reduce formulation: `nMerges` rounds of
    * count-pairs -> pick-argmax -> apply-merge, run over the DISTINCT
    * pretoken table weighted by occurrence counts — the standard
    * distributed-BPE trick, since the distinct-pretoken vocabulary is
    * bounded (Heaps' law) while the corpus is not: after the one
    * corpus-sized groupBy that builds the weighted word table, every
    * training round touches only the vocabulary. Pretokens follow
    * [[bpeTokensCol]]'s GPT-2 convention with the leading space mapped to
    * 'Ġ' (exactly GPT-2's byte mapping) so the space-joined symbol string
    * stays unambiguous. Merge application is greedy left-to-right
    * non-overlapping — the real BPE rule — as a string FOLD over the
    * symbol list ('a a a a' + merge(a,a) gives 'aa aa', never 'aaa a'),
    * identical in both engines (Spark `aggregate` ≡ DuckDB
    * `list_reduce`, property-pinned in BpeTrainSpec).
    *
    * Output: one row per round — the merged pair, its weighted count at
    * selection time, and the corpus symbol total after applying it (the
    * compression curve). All integers and strings; the <= nMerges
    * selected pairs ride the driver (control-plane sized, the IVF
    * centroid regime), while every count is a distributed job. */
  def bpeTrainMerges(s: SparkSession, d: String, nMerges: Int = 3): DataFrame = {
    val (rows, _) = bpeTrainState(s, d, nMerges)
    import s.implicits._
    rows.toDF("step", "pair", "n_pairs", "corpus_syms_after")
  }

  /** The training loop itself: returns (per-round merge rows, the final
    * `(w, sym, n)` vocabulary frame — every distinct pretoken with its
    * post-merge symbol string, persisted). Cached per (session, dir,
    * nMerges) so the train entry and the tokenize-by-dictionary apply
    * entry share one training run. */
  private val bpeStateCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Seq[(Int, String, Long, Long)], DataFrame)]()

  private[ops] def bpeTrainState(s: SparkSession, d: String,
      nMerges: Int): (Seq[(Int, String, Long, Long)], DataFrame) = {
    bpeStateCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    bpeStateCache.computeIfAbsent((s, s"$d#$nMerges"), _ => {
      def syms = split(col("sym"), " ")
      var words = documents(s, d)
        .select(explode(bpeTokensCol(col("text"))).as("t"))
        .select(regexp_replace(col("t"), "^ ", "Ġ").as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .select(col("w"), concat_ws(" ",
          transform(sequence(lit(1), length(col("w"))), i => col("w").substr(i, lit(1)))).as("sym"),
          col("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long)]()
      for (step <- 1 to nMerges) {
        val top = words.filter(size(syms) >= 2)
          .select(explode(transform(sequence(lit(1), size(syms) - 1),
            i => concat(element_at(syms, i), lit(" "), element_at(syms, i + 1)))).as("pair"),
            col("n"))
          .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1).head()
        val pair = top.getString(0)
        val Array(a, b) = pair.split(" ", 2)
        val applied = words.select(
          col("w"),
          aggregate(slice(syms, lit(2), greatest(size(syms) - 1, lit(0))), element_at(syms, 1),
            (acc, x) => when((acc === lit(a) || acc.endsWith(" " + a)) && x === lit(b),
                concat(acc.substr(lit(1), length(acc) - lit(a.length)), lit(a + b)))
              .otherwise(concat(acc, lit(" "), x))).as("sym"),
          col("n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val symsAfter = applied.select(sum(size(syms).cast("long") * col("n"))).head().getLong(0)
        words.unpersist(blocking = false)
        words = applied
        rows += ((step, pair, top.getLong(1), symsAfter))
      }
      (rows.toSeq, words)
    })
  }

  /** Tokenize-by-dictionary — the APPLY half of BPE, production shape: a
    * tokenizer deployment never re-runs the merge fold per occurrence; it
    * broadcasts the trained vocabulary (distinct pretoken -> its merged
    * symbol count) and the corpus token stream joins it at scan speed.
    * The dictionary is Heaps-bounded like the training table, so the
    * broadcast holds at any corpus size. Output: per language, the
    * pretoken count and the BPE token count under the trained merges —
    * the number that actually prices a training run. */
  def bpeApply(s: SparkSession, d: String, nMerges: Int = 3): DataFrame = {
    val (_, words) = bpeTrainState(s, d, nMerges)
    val dict = words.select(col("w"), size(split(col("sym"), " ")).as("n_syms"))
    documents(s, d)
      .select(col("lang"), explode(bpeTokensCol(col("text"))).as("t"))
      .select(col("lang"), regexp_replace(col("t"), "^ ", "Ġ").as("w"))
      .join(broadcast(dict), "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pretokens"),
        sum(col("n_syms").cast("long")).as("n_bpe_tokens"))
  }

  /** Per-document quality metrics: length, alphabetic ratio, stopword ratio,
    * and a bucketed verdict — the standard cheap pre-filter before expensive
    * pipeline stages. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val txt = col("text")
    val nChars = length(txt)
    val nAlpha = length(txt) - length(regexp_replace(txt, "[a-z]", ""))
    val nTokens = tokenCountCol(txt)
    val nStop = occurrences(concat(lit(" "), txt, lit(" ")), " the ") +
      occurrences(concat(lit(" "), txt, lit(" ")), " a ")
    documents(s, d)
      .filter(col("doc_id") < 200)
      .select(
        col("doc_id"),
        nChars.as("n_chars_txt"),
        nTokens.as("n_tokens"),
        (nAlpha.cast("double") / nChars).as("alpha_ratio"),
        (nStop.cast("double") / nTokens).as("stopword_ratio"),
        when(nTokens < 10, "too_short")
          .when(nAlpha.cast("double") / nChars < 0.5, "low_alpha")
          .otherwise("ok").as("quality"))
  }

  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> " the ", "de" -> " der ", "fr" -> " le ", "es" -> " el ", "zh" -> "的")

  /** N-gram-marker language ID: count language-specific marker substrings,
    * argmax with a fixed priority for ties, 'und' when nothing matched.
    * Output compares prediction against the labeled lang column (a confusion
    * summary), which verifies the whole formula end-to-end. */
  def langId(s: SparkSession, d: String): DataFrame = {
    // Two-level aggregate so each marker count is computed ONCE per document:
    // the counts are grouping keys of the first (partial-agg'd, tiny-output)
    // groupBy — an aggregation is a genuine materialization barrier, whereas
    // a bare projection would be merged back into the argmax expression by
    // CollapseProject, re-running the replace-scans ~4x per row (this was
    // the slowest catalog query at 5s before). The argmax then runs over the
    // few hundred distinct count-vectors, not over every document.
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val grouped = documents(s, d)
      .groupBy(col("lang") +: langMarkers.map { case (l, m) =>
        occurrences(padded, m).as(s"c_$l") }: _*)
      .agg(count(lit(1)).as("n0"))
    val maxCount = greatest(langMarkers.map { case (l, _) => col(s"c_$l") }: _*)
    val predicted = when(maxCount === 0, "und")
      .otherwise(langMarkers.foldRight(lit("und")) { case ((l, _), acc) =>
        when(col(s"c_$l") === maxCount, l).otherwise(acc)
      })
    grouped
      .select(col("lang"), predicted.as("predicted"), col("n0"))
      .groupBy(col("lang"), col("predicted"))
      .agg(sum(col("n0")).as("n"))
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercased text —
    * the canonical-form hash used for exact dedup across formatting variants. */
  def fingerprintCol(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  def fingerprint(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(fingerprintCol(col("text"))).as("n_unique"))

  /** Keyword extraction: the top-3 DISTINCTIVE terms per document — highest
    * term frequency among terms appearing in under 10% of the corpus (the
    * integer-exact core of TF-IDF; float idf weights are deliberately
    * avoided because libm log() differs across engines at the ulp level,
    * while (tf, df) counts are exact everywhere). Shapes: one explode ->
    * per-(doc,term) count, a broadcast-able per-term document frequency,
    * and a top-k window — all partial-agg'd, nothing driver-side. */
  def keywords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = documents(s, d)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), explode(tokensCol(lower(col("text")))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = documents(s, d).filter(col("doc_id") < 100)
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 10 < col("n_docs"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk"))
  }

  /** The fixed demo query for [[bm25Search]]. Term ORDER is part of the
    * contract: per-document scores sum left-to-right in this order (float
    * addition is not associative, and the oracle folds the same way). */
  private val BM25_TERMS = Seq("spark", "merge", "window", "hash")

  /** BM25 relevance search: top-10 documents for a fixed multi-term query,
    * scored with the Robertson-Sparck Jones formula EXCEPT that the idf
    * log is deliberately dropped, keeping its argument — the odds ratio
    * (N - df + 0.5)/(df + 0.5) — as the term weight. Rationale: libm
    * log() differs across engines at the ulp level (the same reason
    * [[keywords]] is integer-only), while + * / are IEEE-correctly-rounded
    * everywhere, so this variant is bit-replicable in DuckDB and the gate
    * stays hash-exact. Ranking differs from textbook BM25 only in how
    * strongly rare terms dominate (the monotone log is removed per-term);
    * tf saturation and length normalization (k1 = 1.2, b = 0.75) are the
    * standard BM25 shape.
    *
    * Scale: the explode is filtered to the query terms BEFORE the
    * (doc, term) aggregate, so only matching postings shuffle — the
    * inverted-index access pattern without materializing an index; df and
    * the corpus stats ride broadcasts. Per-doc scores sum in fixed
    * [[BM25_TERMS]] order via one pivot — no float aggregation order
    * anywhere. */
  def bm25Search(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Global top-10 via orderBy+limit — Spark plans TakeOrderedAndProject
    // (per-partition heaps + driver merge), never a single-partition window
    // over every matching doc; the rank window then runs over 10 rows.
    bm25Agg(s, d)
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .withColumn("rnk", row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("score"), col("rnk"))
  }

  /** The scored (doc_id, score) BM25 frame behind [[bm25Search]] — shared
    * with the RRF fusion entry, which pools a deeper top-k of it. */
  private def bm25Agg(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), tokensCol(lower(col("text"))).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("dl"), col("tk"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("total_tokens"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("tk")).as("term"))
      .filter(col("term").isin(BM25_TERMS: _*))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val score =
      ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(1.0) - lit(0.75) +
              lit(0.75) * col("dl") / (col("total_tokens") / col("n_docs")))))
    val perTerm = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), score.as("score"))
    val total = BM25_TERMS.map(t =>
      coalesce(max(when(col("term") === t, col("score"))), lit(0.0)))
      .reduceLeft(_ + _)
    perTerm.groupBy(col("doc_id")).agg(total.as("score"))
  }

  private val RRF_POOL = 20

  /** Reciprocal-rank fusion of the lexical BM25 ranker with the
    * char-bigram LM typicality ranker (catalog `x_rrf_fusion`) — the
    * hybrid-selection shape retrieval and data-curation pipelines use to
    * combine heterogeneous signals WITHOUT score calibration (Cormack et
    * al. 2009): each ranker contributes 1/(60 + rank) for its
    * top-[[RRF_POOL]] documents and the fused top-10 wins. Ranks, not
    * scores, cross the fusion boundary, so a rational-idf BM25 and an
    * integer-ppm LM score need no common scale. The fused score is one
    * two-term sum in fixed (lexical, quality) order — bit-identical in
    * the oracle (whose 1.0 literals are CAST to DOUBLE; DuckDB parses
    * them as exact DECIMAL otherwise).
    *
    * Scale: each ranker pools via TakeOrderedAndProject (per-partition
    * heaps + driver merge — never a global window over the corpus); the
    * fusion itself is a full outer join of two ≤POOL-row frames and the
    * final top-10 windows ≤2·POOL rows. Nothing past the rankers is
    * corpus-sized. */
  def rrfFusion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Agg(s, d)
      .orderBy(col("score").desc, col("doc_id")).limit(RRF_POOL)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_lex"))
    val qual = lmBigramScore(s, d)
      .orderBy(col("typicality_ppm").desc, col("doc_id")).limit(RRF_POOL)
      .withColumn("r_qual",
        row_number().over(Window.orderBy(col("typicality_ppm").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_qual"))
    lex.join(qual, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_qual")), lit(0.0))).as("rrf"),
        col("r_lex"), col("r_qual"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
      .withColumn("rnk", row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
  }

  private val WIN = 50
  private val STRIDE = 25

  /** Context-length document windowing: split each document into
    * overlapping token windows (size 50, stride 25) — the standard prep
    * step for fixed-context training. Emits a content hash per window so
    * the oracle verifies the actual window text, not just counts.
    * Shape: one explode over an arithmetic window index — embarrassingly
    * parallel, no shuffle at all until a consumer aggregates. */
  def docWindows(s: SparkSession, d: String): DataFrame = {
    // ceil((size-WIN)/STRIDE) in exact integer math (Column./ is double division)
    val nWins = lit(1) +
      floor((greatest(size(col("toks")) - WIN, lit(0)) + (STRIDE - 1)) / STRIDE).cast("int")
    documents(s, d)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(transform(sequence(lit(0), nWins - 1),
          i => slice(col("toks"), i * STRIDE + 1, lit(WIN)))).as(Seq("win_idx", "win")))
      .select(col("doc_id"), col("win_idx"),
        size(col("win")).as("n_tokens"),
        md5(concat_ws(" ", col("win"))).as("win_hash"))
  }

  /** Decontamination: flag corpus documents sharing 4-gram content with a
    * "benchmark" set (here: doc_id < 10 stands in for the eval set). Gram
    * size is the sensitivity knob — on this corpus 3-grams flag ~60% of
    * documents (generic phrases), 5-grams nearly none; 4-grams isolate the
    * handful with genuinely shared content. The benchmark gram set is tiny
    * and broadcast; the corpus side streams — at 100 TB this is a
    * broadcast-hash join on gram hashes, never an all-pairs comparison. */
  def decontam(s: SparkSession, d: String): DataFrame = {
    val bench = contamBenchGrams(s, d)
    val corpus = contamGrams(documents(s, d).filter(col("doc_id") >= 100 && col("doc_id") < 400))
    corpus.join(broadcast(bench), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_contaminated"))
  }

  /** Gram hashes via the native NgramMd5 byte-pass expression (same
    * md5-of-space-joined-tokens contract as the HOF formulation it
    * replaced — see the bit contract on NgramMd5, and the duplicate-span
    * builder in ops/Dedup for the measured interpreted-HOF cost). */
  private def contamGrams(df: DataFrame): DataFrame =
    df.select(col("doc_id"), tokensCol(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        explode(org.apache.spark.sql.graftbridge.ngramMd5(col("toks"), 4)).as("g"))

  private def contamBenchGrams(s: SparkSession, d: String): DataFrame =
    contamGrams(documents(s, d).filter(col("doc_id") < 10))
      .select(col("g")).distinct()

  /** [[decontam]] with a Bloom pre-filter in front of the exact join — the
    * shape that survives a benchmark set too big to ship as an exact
    * broadcast set. Spark's own runtime-filter machinery supplies both
    * halves: a `BloomFilterAggregate` over the benchmark gram hashes
    * builds one serialized filter (~1.2 MB/M grams at the default sizing
    * vs ~40 B/gram for exact md5 strings), and a codegen'd
    * `BloomFilterMightContain` predicate drops non-colliding corpus grams
    * AT SCAN SPEED — the join, whatever its physical shape, sees only the
    * true matches plus the p_fp sliver. The exact semi-join behind the
    * bloom removes that sliver, so the output is IDENTICAL to
    * [[decontam]]'s (no false negatives by the Bloom contract, no false
    * positives past the verify) and the two entries share one oracle.
    *
    * SNAPSHOT SEMANTICS: like the heavy-hitters sketch, the Bloom build is
    * an eager job at construction time (`.head()` below) and the filter
    * bytes ride the returned plan as a Literal; re-running the returned
    * frame after the benchmark set changed probes a STALE filter —
    * rebuild via this method (the exact verify still guards correctness
    * for grams the stale filter passes, but new benchmark grams missing
    * from it are not flagged). */
  def decontamBloom(s: SparkSession, d: String): DataFrame = {
    val bench = contamBenchGrams(s, d)
    val bf = bench.agg(org.apache.spark.sql.graftbridge
      .bloomFilterAgg(col("g"), 4096L).as("bf")).head().getAs[Array[Byte]](0)
    val corpus = contamGrams(documents(s, d).filter(col("doc_id") >= 100 && col("doc_id") < 400))
    corpus.filter(org.apache.spark.sql.graftbridge.bloomMightContain(bf, col("g")))
      .join(broadcast(bench), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_contaminated"))
  }

  /** CCNet-style language-model quality proxy with an integer-exact
    * contract: a character-bigram model is trained ON the corpus (counts
    * per bigram), and each document is scored by how typical its bigrams
    * are of that model — boilerplate and natural text score high,
    * gibberish/encoded blobs score low. Production CCNet scores with a
    * pretrained KenLM's log-probs; the plumbing here is EXACTLY that
    * pipeline's (bounded model table broadcast against a streaming corpus,
    * per-document re-aggregate) with the per-bigram score swapped from
    * float log-prob to the bigram's integer corpus count, because (tf, df)
    * style integers are exact across engines while libm log() is not.
    *
    * Scale shape: the model is alphabet-squared-BOUNDED regardless of
    * corpus size — it broadcasts forever. The corpus-char-sized explode
    * runs ONCE, rolled up immediately to per-(doc, bigram) counts with a
    * map-side partial aggregate, and that bounded rollup (cached — it
    * feeds the model, the scoring join, and x_rrf_fusion) is the ONLY
    * thing that ever crosses the wire; no instance-sized row reaches a
    * shuffle or the broadcast join. `typicality_ppm` is integral division
    * end-to-end — no float summation order anywhere. */
  private val CONTAM_GRAM = 4

  /** Span-level decontamination (catalog `x_decontam_scrub`): REMOVE the
    * benchmark-overlapping passages instead of flagging whole documents —
    * the production action when dropping every flagged document costs too
    * much clean text ([[decontam]] is the detector; this is the fix).
    * Corpus token positions whose 4-gram matches a benchmark gram
    * island-merge into maximal spans (the duplicate-span machinery in
    * ops/Dedup with gap = gram length), and each contaminated document is
    * rewritten with the covered tokens dropped. Emits the
    * before/after/md5 contract of `x_dup_span_scrub`, so the oracle
    * replays the full rewrite and the hash proves the text.
    *
    * Scale shape: the benchmark gram set broadcasts (same regime as
    * [[decontam]] — swap in the Bloom prefilter of [[decontamBloom]] when
    * it outgrows an exact broadcast); the position relation entering the
    * island window is MATCH-sized, not corpus-sized, and the rewrite is
    * an inner join against the ≤contaminated-docs span rollup — the clean
    * majority of the corpus never reaches a shuffle. */
  def decontamScrub(s: SparkSession, d: String): DataFrame = {
    val bench = contamBenchGrams(s, d)
    val corpus = documents(s, d).filter(col("doc_id") >= 100 && col("doc_id") < 400)
    val pos = corpus
      .select(col("doc_id"), tokensCol(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graftbridge.ngramMd5(col("toks"), CONTAM_GRAM))
          .as(Seq("pos", "g")))
      .join(broadcast(bench), "g")
      .select(col("doc_id"), col("pos"))
    val spanArr = Dedup.islandSpans(pos, CONTAM_GRAM)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    corpus
      .select(col("doc_id"), tokensCol(lower(col("text"))).as("toks"))
      .join(spanArr, "doc_id") // inner: only contaminated docs are rewritten
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens_before"),
        filter(col("toks"), (_, i) =>
          !exists(col("sp"), sp => i >= sp("span_start") && i <= sp("span_end")))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens_before"),
        size(col("kept")).as("n_tokens_after"),
        md5(concat_ws(" ", col("kept"))).as("kept_hash"))
  }

  /** Per-(session, dir) cache of the per-(doc, bigram) count relation:
    * it feeds both the model aggregate and the scoring join below (and
    * x_rrf_fusion re-enters through [[lmBigramScore]]), so an uncached
    * plan would re-run the corpus-char-sized explode for each consumer —
    * and a per-call persist would pin fresh blocks every bench round
    * (the [[shardPartedCache]] leak). */
  private val bigramPerDocCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def lmBigramScore(s: SparkSession, d: String): DataFrame = {
    // Roll bigram INSTANCES up to per-(doc, bigram) counts immediately:
    // everything downstream — the model (sum of c), the totals, and the
    // per-doc score (sum of c, sum of c*cnt) — is a linear functional of
    // these counts, so the corpus-char-sized explode runs ONCE (cached)
    // and the widest shuffle carries per-doc DISTINCT bigrams
    // (alphabet²-bounded per doc) instead of every character position.
    // The previous shape exploded the corpus twice (model pass + scoring
    // pass) and shuffled and broadcast-joined instance-sized rows.
    bigramPerDocCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val perDoc = bigramPerDocCache.computeIfAbsent((s, d), _ =>
      documents(s, d)
        .select(col("doc_id"), lower(col("text")).as("t"))
        .filter(length(col("t")) >= 2)
        // Native one-pass bigram expression (r18): the transform+substr
        // formulation re-walked the string's bytes from position 0 for
        // EVERY substr(i, 2) — O(chars²) per document, measured 33-48 s of
        // executorCpuTime for this model build at sf0.1. CharBigrams walks
        // the codepoint boundaries once; a spec pins it element-for-element
        // to the substr formulation (incl. multi-byte text).
        .select(col("doc_id"),
          explode(org.apache.spark.sql.graftbridge.charBigrams(col("t"))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val model = perDoc.groupBy(col("bg")).agg(sum(col("c")).as("cnt"))
    val totals = model.agg(sum(col("cnt")).as("n_total"))
    perDoc.join(broadcast(model), "bg")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), sum(col("c") * col("cnt")).as("freq_sum"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_bigrams"), col("freq_sum"),
        expr("freq_sum * 1000000L div (n_bigrams * n_total)").as("typicality_ppm"))
  }

  /** Tokenizer-engineering coverage audit: fix a vocabulary — the top
    * `vocabSize` corpus tokens by frequency (16 here — half this corpus's
    * 31-token vocabulary, so the cut actually bites; ties to the lexicographically
    * smaller token, so the cut is deterministic in any engine) — and
    * measure, per language, how much of the token stream falls outside it.
    * Per-language OOV is THE signal for whether a proposed vocab size
    * underserves some languages before committing to a tokenizer build.
    *
    * Scale shape: the vocab is a top-k over token counts —
    * `orderBy(...).limit(k)` plans as TakeOrderedAndProject (per-partition
    * heaps + driver merge of k rows, never a global sort); the coverage
    * pass streams every token past the BROADCAST vocab and
    * partial-aggregates into one row per language. `oov_ppm` is integral
    * division — exact everywhere. */
  def vocabCoverage(s: SparkSession, d: String, vocabSize: Int = 16): DataFrame = {
    val toks = documents(s, d)
      .select(col("lang"), explode(tokensCol(lower(col("text")))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000L div n_tokens").as("oov_ppm"))
  }

  /** Learned language classifier (catalog `x_lang_classifier`) — the
    * trained-classifier slot of a training-data pipeline (the CCNet /
    * fastText filtering shape): a model TRAINED on a labeled split of the
    * corpus, applied to HELD-OUT documents, with the confusion matrix as
    * the audit. Complements [[langId]], whose decision surface is a fixed
    * heuristic — this one's comes from the data.
    *
    * The model is a multinomial class-profile scorer in exact integer
    * arithmetic: per (lang, token), the Laplace-smoothed class-conditional
    * probability in parts-per-billion, `(c + 1) * 1e9 div (T_lang + V)`.
    * Integral end to end, so training, scoring, and the argmax are
    * hash-exact across engines — a log-likelihood NB would ride `ln()`,
    * which IEEE 754 leaves engine-specific, the same reason
    * [[lmBigramScore]] scores typicality in ppm instead of log-space.
    * A held-out document scores `Σ_tok n_tok · w_ppb(tok, lang)` against
    * every class; (tok, lang) pairs unseen in training coalesce to the
    * smoothed-zero weight `1e9 div (T_lang + V)`, so the scorer is total.
    * (Fixed-point guard: every product stays ≤ c_max·1e9, overflow-safe in
    * BIGINT up to ~9e9 occurrences of one token in one class.)
    *
    * Scale shape: training is one partial-aggregated groupBy over
    * (lang, token); the class-totals relation is L rows (broadcast);
    * scoring joins held-out per-doc token counts to the V×L weight
    * relation on (tok, lang) — a plain shuffle equi-join at corpus scale
    * (broadcast only while the vocabulary is small) — and the argmax is a
    * per-doc window over L candidate rows. Output is a ≤L² confusion
    * matrix. The vocabulary size V is a control-plane scalar (one
    * distributed distinct-count, collapsed to a literal for the smoothing
    * denominator). */
  def langClassifier(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), tokensCol(lower(col("text"))).as("toks"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test = docs.filter(col("doc_id") % 5 === 0)
    val counts = train.select(col("lang"), explode(col("toks")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val vocabSize = counts.select(col("tok")).distinct().count()
    val totals = counts.groupBy(col("lang"))
      .agg(sum(col("c")).as("t_lang"))
      .select(col("lang"), (col("t_lang") + lit(vocabSize)).as("denom"))
    val weights = counts.join(totals, "lang")
      .select(col("lang").as("cand"), col("tok"),
        expr("(c + 1) * 1000000000L div denom").as("w_ppb"))
    val testToks = test.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
    val scored = testToks
      .crossJoin(broadcast(totals.select(col("lang").as("cand"), col("denom"))))
      .join(weights, Seq("cand", "tok"), "left")
      .select(col("doc_id"), col("cand"),
        (col("n") * coalesce(col("w_ppb"), expr("1000000000L div denom"))).as("contrib"))
      .groupBy(col("doc_id"), col("cand")).agg(sum(col("contrib")).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand"))
    val pred = scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col("doc_id"), col("cand").as("predicted"))
    test.select(col("doc_id"), col("lang").as("actual"))
      .join(pred, "doc_id")
      .groupBy(col("actual"), col("predicted")).agg(count(lit(1)).as("n_docs"))
  }

  /** Deterministic hash-based corpus sampling: keep documents whose salted
    * content-id hash lands in 1/10 of the space — reproducible across runs,
    * engines, and partitionings (`rand()`-based sampling is none of those),
    * and embarrassingly parallel (a pure per-row predicate, no shuffle
    * before the audit aggregate). The per-language counts audit the
    * sampling rate. */
  def hashSample(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("smp:"), col("doc_id").cast("string"))), 1, 7), 16, 10)
      .cast("long")
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(h % 10 === 0, 1L).otherwise(0L)).as("n_sampled"))
  }

  /** Per-language bottom-decile quality gate with an EXACT percentile
    * threshold computed the way that scales: the cumulative-distribution
    * walk runs over a `(lang, n_tokens)` HISTOGRAM — cardinality bounded by
    * languages x distinct token counts, i.e. thousands of rows at any
    * corpus size — never over the corpus itself. The per-language window
    * therefore sorts a tiny aggregate, the thresholds broadcast back, and
    * the gate is a pure per-row predicate feeding a small audit aggregate.
    * (A row-level `percentile` or per-language window over all documents
    * shuffles the whole corpus to compute a handful of thresholds; the
    * histogram trick is the standard exact alternative whenever the scored
    * quantity is discrete and bounded, as token counts are.)
    *
    * Threshold contract (integer-exact, no interpolation): `thr` is the
    * smallest token count v such that >= ceil(n/10) of the language's
    * documents have n_tokens <= v — i.e. `10*cum >= n` on the cumulative
    * histogram — and the gate keeps documents STRICTLY above `thr`. */
  def qualityGateCdf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, d)
      .select(col("lang"), tokenCountCol(col("text")).as("n_tokens"))
    val hist = docs.groupBy(col("lang"), col("n_tokens")).agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy(col("lang")).orderBy(col("n_tokens"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n_lang", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
      .filter(col("cum") * 10 >= col("n_lang"))
      .groupBy(col("lang")).agg(min(col("n_tokens")).as("thr"))
    docs.join(broadcast(thr), "lang")
      .groupBy(col("lang"), col("thr"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") > col("thr"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("n_tokens") > col("thr"), col("n_tokens").cast("long"))
          .otherwise(0L)).as("n_tokens_kept"))
  }

  /** Unicode NFC normalization audit (catalog `x_unicode_norm`): run the
    * canonical-composition pass every hash-based operator upstream assumes
    * (composed vs decomposed encodings of the SAME text would otherwise
    * defeat exact dedup, fingerprints, gram hashes) and report, per
    * source, how much text it touched. The normalizer is the native
    * [[org.apache.spark.sql.graftbridge.NfcNormalize]] expression —
    * ASCII detected in a byte scan and returned with zero allocation, so
    * on a mostly-ASCII web corpus this audits at scan speed. The oracle
    * rides DuckDB's utf8proc `nfc_normalize` — agreement IS the
    * cross-engine normalization-stability contract the scaladoc pins. */
  def unicodeNorm(s: SparkSession, d: String): DataFrame = {
    val nfc = org.apache.spark.sql.graftbridge.nfcNormalize(col("text"))
    documents(s, d)
      .select(col("source"), col("text"), nfc.as("nfc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nfc") =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("nfc")).cast("long")).as("n_chars_nfc"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, Table A1) —
    * the standard rule battery a pipeline runs before any model-based
    * filter. Every rule is a pure per-row predicate in EXACT integer
    * arithmetic (ratio and mean bounds cross-multiplied, so no float
    * division anywhere):
    *   R1 word count within [10, 100000]
    *   R2 mean word length within [3, 10] characters
    *   R3 ≥ 80% of words contain an alphabetic character
    *   R4 symbol-to-word ratio ('#' + '...') ≤ 10%
    *   R5 ≥ 2 distinct common stopwords present
    * Audit: per-language failure count per rule + documents passing all.
    * Shape: the rule BITS are grouping keys of the first aggregate (the
    * [[langId]] two-level trick) — each regex/scan runs once per row in
    * the partial aggregate, whose output is bounded by |lang|×2⁵
    * regardless of corpus size; the rollup then sums a tiny frame. */
  /** The five Gopher failure flags as columns over `text` — shared by the
    * per-language audit ([[gopherRules]]) and the pipeline composition's
    * document gate. */
  private def gopherFlagCols: Seq[(String, Column)] = {
    val txt = lower(col("text"))
    val padded = concat(lit(" "), txt, lit(" "))
    val nWords = tokenCountCol(txt)
    val nWordChars = length(regexp_replace(txt, "\\s+", ""))
    val nAlphaWords = size(regexp_extract_all(txt, lit("\\S*\\p{L}\\S*"), lit(0)))
    val nSym = occurrences(txt, "#") + occurrences(txt, "...")
    val nStop = Seq(" the ", " a ", " of ", " and ", " to ")
      .map(m => when(padded.contains(m), 1).otherwise(0)).reduce(_ + _)
    Seq(
      "f_words" -> (nWords < 10 || nWords > 100000),
      "f_word_len" -> (nWordChars < nWords * 3 || nWordChars > nWords * 10),
      "f_alpha" -> (nAlphaWords * 5 < nWords * 4),
      "f_symbol" -> (nSym * 10 > nWords),
      "f_stop" -> (nStop < 2))
  }

  /** True iff the document passes ALL five Gopher rules. */
  private[ops] def gopherPassCol: Column =
    gopherFlagCols.map { case (_, f) => !f }.reduce(_ && _)

  def gopherRules(s: SparkSession, d: String): DataFrame = {
    val flags = gopherFlagCols
    val grouped = documents(s, d).groupBy(
      col("lang") +: flags.map { case (n, f) => f.as(n) }: _*)
      .agg(count(lit(1)).as("n0"))
    grouped.groupBy(col("lang")).agg(
      sum(col("n0")).as("n_docs"),
      sum(when(col("f_words"), col("n0")).otherwise(0L)).as("fail_word_count"),
      sum(when(col("f_word_len"), col("n0")).otherwise(0L)).as("fail_word_len"),
      sum(when(col("f_alpha"), col("n0")).otherwise(0L)).as("fail_alpha"),
      sum(when(col("f_symbol"), col("n0")).otherwise(0L)).as("fail_symbol"),
      sum(when(col("f_stop"), col("n0")).otherwise(0L)).as("fail_stop"),
      sum(when(!col("f_words") && !col("f_word_len") && !col("f_alpha") &&
        !col("f_symbol") && !col("f_stop"), col("n0")).otherwise(0L)).as("n_pass"))
  }

  private[ops] val STRAT_T = 60

  /** Exact stratified sampling with largest-remainder (Hamilton) seat
    * allocation (catalog `x_stratified_sample`): a fixed eval budget of
    * [[STRAT_T]] documents is split across (lang, source) strata exactly
    * proportionally — quota = floor(T·n/N), then one extra seat to the
    * largest fractional remainders (ties by stratum key) until the seats
    * sum to T — and each stratum contributes its quota in salted-hash
    * order, deterministic across runs, engines, and partitionings. This
    * is the eval-set builder: [[hashSample]] keeps a RATE, this hits an
    * exact SIZE with exact proportions.
    *
    * Shape: allocation runs entirely on the strata AGGREGATE —
    * control-plane-bounded (|lang|×|source| rows, the CDF gate's
    * histogram argument), so its global window sorts a tiny frame, never
    * the corpus. Quotas broadcast back; the per-stratum pick is one
    * corpus window partitioned by stratum whose `rank ≤ STRAT_T`
    * constant bound lets WindowGroupLimit prune at the shuffle (quota ≤ T
    * always, so the constant-bound prefilter loses nothing). Output is
    * the sampled MEMBERSHIP itself — the strongest oracle shape. */
  def stratifiedSample(s: SparkSession, d: String, t: Int = STRAT_T): DataFrame =
    stratifiedSampleOver(
      documents(s, d).select(col("lang"), col("source"), col("doc_id")), t)

  /** [[stratifiedSample]] over an arbitrary `(lang, source, doc_id)`
    * population — the composable form the pipeline entry feeds with its
    * gated+split survivors. */
  private[ops] def stratifiedSampleOver(docs: DataFrame, t: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val strata = docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val alloc = strata
      .crossJoin(broadcast(strata.agg(sum(col("n")).as("n_tot"))))
      .withColumn("base", expr(s"$t * n div n_tot"))
      .withColumn("rem", expr(s"$t * n % n_tot"))
    val quotas = alloc
      .crossJoin(broadcast(alloc.agg((lit(t) - sum(col("base"))).as("extra"))))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"), col("source"))))
      .withColumn("quota", col("base") + when(col("rk") <= col("extra"), 1L).otherwise(0L))
      .select(col("lang"), col("source"), col("quota"))
    val h = conv(substring(md5(concat(lit("strat:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(h.asc, col("doc_id").asc)
    docs.join(broadcast(quotas), Seq("lang", "source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= t) // constant bound → WindowGroupLimit
      .filter(col("rk") <= col("quota"))
      .select(col("lang"), col("source"), col("doc_id"))
  }

  /** End-to-end pipeline composition — the actual usage story: quality
    * pre-filter -> exact dedup (canonical survivor per fingerprint) ->
    * context-window accounting, as ONE declarative plan. Catalyst fuses
    * the filter into the scan, the dedup is one hash aggregate, and the
    * window math is arithmetic — no explode needed to COUNT windows. */
  def pipelineE2e(s: SparkSession, d: String): DataFrame = {
    val txt = col("text")
    val nTokens = tokenCountCol(txt)
    val nAlpha = length(txt) - length(regexp_replace(txt, "[a-z]", ""))
    val ok = documents(s, d)
      .filter(nTokens >= 10 && nAlpha.cast("double") / length(txt) >= 0.5)
    val keep = ok
      .groupBy(fingerprintCol(txt).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val nWins = lit(1) +
      floor((greatest(nTokens - WIN, lit(0)) + (STRIDE - 1)) / STRIDE).cast("long")
    ok.join(keep, "doc_id")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTokens).as("total_tokens"),
        sum(nWins).as("total_windows"))
  }

  /** Sample budget of the full-pipeline composition: small enough that the
    * gated train split exceeds it at every fixture scale (so the sampling
    * stage genuinely selects), large enough that the shard stage emits a
    * multi-shard manifest. */
  private[ops] val PIPE_T = 120

  /** The WHOLE corpus-assembly pipeline as one declarative chain (catalog
    * `x_pipeline_full`) — the composition story for the round-9 additions,
    * each stage feeding the next instead of being exercised one at a time:
    *
    *   1. Gopher gate        — keep documents passing all five rules
    *   2. span scrub         — token mass after removing cross-doc
    *                           duplicated spans ([[Dedup.scrubbedTokenCounts]])
    *   3. leakage-safe split — keep the train split (cluster-salted 80%,
    *                           riding the WIDE SimHash family)
    *   4. stratified sample  — Hamilton-allocated [[PIPE_T]]-doc budget over
    *                           (lang, source) strata of the gated train docs
    *   5. balanced shard     — distributed prefix-sum sharding of the
    *                           sample by its SCRUBBED token mass
    *
    * Output: the shard manifest (shard_id, n_docs, n_tokens) — compact,
    * exact, and replayed end-to-end by one DuckDB oracle (every stage's
    * CTE chain glued into a single WITH RECURSIVE pile).
    *
    * Plan shape / no recomputation: the chain is linear — each stage's
    * relation is consumed exactly once, so nothing is evaluated twice
    * (the one intentionally-shared intermediate, the shard stage's
    * range-partitioned relation, is persisted inside
    * [[shardBalancedOver]]). The corpus is scanned once per independent
    * DERIVATION (gate predicate, gram positions, wide signatures, strata
    * keys) — those are different projections Catalyst prunes to different
    * columns, the scan-speed regime, not recomputation of a stage. The
    * expensive stages keep their individually-measured plans: the span
    * grams are one corpus-sized groupBy, the split's pair space is
    * band-bounded, the sample's allocation runs on the strata aggregate,
    * and the shard windows run over the PIPE_T-row sample. */
  def pipelineFull(s: SparkSession, d: String): DataFrame = {
    val gated = documents(s, d)
      .filter(gopherPassCol)
      .select(col("doc_id"), col("lang"), col("source"))
    val train = Dedup.leakageSafeSplit(s, d)
      .filter(col("split") === "train").select(col("doc_id"))
    val sampled = stratifiedSampleOver(
      gated.join(train, "doc_id").select(col("lang"), col("source"), col("doc_id")),
      PIPE_T)
    val withMass = sampled.select(col("doc_id"))
      .join(Dedup.scrubbedTokenCounts(s, d), "doc_id")
    shardBalancedOver(s, withMass)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  /** Gopher-style repetition signals per document: distinct-token ratio,
    * duplicate-bigram fraction, and top-bigram fraction (share of all word
    * bigrams taken by the single most frequent one — boilerplate and
    * degenerate repetition push it toward 1). Zero shuffles — at 100 TB it
    * runs at scan speed, unlike the explode + double-aggregate formulation
    * (full shuffle of every bigram). The per-doc mode count is the native
    * `MaxElementCount` expression: one O(n) hash pass per row, replacing a
    * sort_array + `aggregate` run-length fold (HigherOrderFunctions are
    * CodegenFallback — interpreted lambda dispatch per element — and the
    * sort was only there to make run-lengths meaningful). */
  def repetitionStats(s: SparkSession, d: String): DataFrame = {
    val toks = tokensCol(col("text"))
    val docs = documents(s, d)
      .filter(tokenCountCol(col("text")) >= 2)
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), col("w"),
        transform(sequence(lit(0), size(col("w")) - 2),
          i => concat(element_at(col("w"), i + 1), lit(" "), element_at(col("w"), i + 2))).as("bg"))
    val topC = org.apache.spark.sql.graftbridge.maxElementCount(col("bg"))
    docs.select(
      col("doc_id"),
      size(col("w")).as("n_tokens"),
      (size(array_distinct(col("w"))).cast("double") / size(col("w"))).as("distinct_token_ratio"),
      (lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg"))).as("dup_bigram_frac"),
      (topC.cast("double") / size(col("bg"))).as("top_bigram_frac"))
  }

  /** Weighted mixture sampling — the data-mixing step of training-corpus
    * assembly: each language gets its own deterministic sampling rate
    * (threshold over a salted content-id hash, same portable md5 contract
    * as [[hashSample]]), and the output is the per-source budget audit
    * (docs and chars kept). A pure per-row predicate: reproducible across
    * runs, engines, and partitionings, no shuffle before the tiny final
    * aggregate. */
  def mixWeighted(s: SparkSession, d: String): DataFrame = {
    // rate in basis points per language: the mixing weights
    val bps = Map("en" -> 5000, "de" -> 8000, "fr" -> 2500, "es" -> 1000, "zh" -> 10000)
    val h = conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 7), 16, 10)
      .cast("long") % 10000
    val thr = bps.foldLeft(lit(0)) { case (acc, (l, t)) => when(col("lang") === l, t).otherwise(acc) }
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(h < thr, 1L).otherwise(0L)).as("n_kept"),
        sum(when(h < thr, col("n_chars")).otherwise(0L)).as("kept_chars"))
  }

  /** Token-rarity quality signal: per document, how common its tokens are
    * in the WHOLE corpus — gibberish and OCR noise skew toward corpus-rare
    * tokens. Integer-exact on purpose (sums of corpus counts, not log
    * probabilities — cross-engine float log() is not bit-stable, exact
    * integer arithmetic is). The vocabulary relation is Zipf-bounded —
    * orders of magnitude smaller than the corpus — so Catalyst builds it
    * with one token-keyed shuffle and BROADCASTS it back
    * (BroadcastHashJoin, verified in the formatted plan): the exploded
    * probe side is never shuffled by token, and the only other exchange
    * is the final per-document re-aggregation. */
  def tokenRarity(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cf"))
    toks.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cf")).as("corpus_freq_sum"),
        sum(when(col("cf") <= 2, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("avg_token_freq",
        col("corpus_freq_sum").cast("double") / col("n_tokens"))
  }

  /** Exact per-group quota sampling — the budget-constrained flavor of
    * corpus mixing: keep EXACTLY K documents per language (rate-based
    * [[mixWeighted]] keeps a proportion; quotas are what a fixed token
    * budget demands). Ranking by a salted content-id hash makes the draw
    * uniform, deterministic, and engine-portable; doc_id breaks ties.
    * Scale shape: `row_number <= K` compiles to WindowGroupLimit
    * (verified in the plan) — each input partition pre-truncates to its
    * own top-K per group BEFORE the shuffle, so the exchange carries
    * O(partitions x K) rows, not the corpus, and the 5-partition window
    * stage ranks only those survivors. */
  def quotaSample(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 100
    val h = conv(substring(md5(concat(lit("quota:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("lang")).orderBy(h.asc, col("doc_id").asc)
    documents(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("lang"), col("doc_id"), col("rk"))
  }

  /** Training-sequence packing: assign documents to fixed token-budget bins
    * (what a loader consumes after windowing). Distributed shape: documents
    * are hash-bucketed first, then each bucket packs INDEPENDENTLY by
    * greedy contiguous fill over a deterministic order — a running token
    * sum and `bin = floor(start / budget)`, the bounded-overflow packing
    * (at most one straddling doc per bin) production pipelines use because
    * exact bin packing is inherently sequential. The window partitions by
    * bucket, so parallelism is the bucket count regardless of corpus size,
    * and each bucket's window is a single sort — no global ordering
    * anywhere. Output audits each bin's fill. */
  def packBins(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val BUDGET = 2048
    val BUCKETS = 16
    val h = conv(substring(md5(concat(lit("pack:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"), tokenCountCol(col("text")).cast("long").as("n_tokens"), h.as("h"))
      .withColumn("bucket", pmod(col("h"), lit(BUCKETS)))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tokens")).cast("double") / BUDGET).cast("long"))
      .groupBy(col("bucket"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("bin_tokens"))
  }

  /** Globally-ordered balanced sharding (catalog `x_shard_balanced`) — the
    * OTHER packing shape next to [[packBins]]: instead of bucket-local bins,
    * the whole corpus is laid out in ONE deterministic pseudo-random order
    * (salted md5 of doc_id — a reproducible global shuffle) and cut into
    * contiguous shards of ~`BUDGET` tokens by the running token count. This
    * is what a training run wants when shard ORDER is the data order (no
    * second shuffle at read time) and shards must be token-balanced.
    *
    * The global running sum is a DISTRIBUTED PREFIX SUM, not a
    * single-partition window: range-partition on the order key (partition p
    * holds a contiguous slice of the global order), per-partition local
    * cumsum under a partition-local window, then add each partition's
    * exclusive prefix offset — computed by collecting ONE row per partition
    * (control-plane sized, like the IVF centroid sums) and broadcast back.
    * Every per-row step is width-bounded; parallelism is the partition
    * count at any corpus size. The result is invariant to the partition
    * count: (h, doc_id) is a total order, so each document's global prefix
    * is a pure function of the data — which is exactly what lets DuckDB
    * oracle it with a single ORDER BY window. */
  /** The range-partitioned (doc_id, n_tokens, h) relation both sharding
    * jobs read, persisted once per (session, directory) — a per-call
    * persist would pin a fresh copy every bench invocation and never
    * release it. The persist also guarantees both jobs observe the SAME
    * partition slices (pid stability). */
  private val shardPartedCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private val SHARD_BUDGET = 2048L // power of two: floor-of-double == integer division (see x_pack_bins oracle note)
  private val SHARD_PARTS = 8

  def shardBalanced(s: SparkSession, d: String): DataFrame = {
    val h = md5(concat(lit("shard:"), col("doc_id").cast("string")))
    shardPartedCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val parted = shardPartedCache.computeIfAbsent((s, d), _ =>
      documents(s, d)
        .select(col("doc_id"), tokenCountCol(col("text")).cast("long").as("n_tokens"), h.as("h"))
        .repartitionByRange(SHARD_PARTS, col("h"), col("doc_id"))
        .persist())
    shardFromParted(s, parted)
  }

  /** Keyed by the CANONICALIZED input plan (plus budget): repeated
    * bench/verify invocations of the composed pipelines re-enter
    * [[shardBalancedOver]] with plan-equal inputs every run, and an
    * unkeyed per-call `.persist()` would pin a new set of cached blocks
    * each time (the leak [[shardPartedCache]] exists to prevent on the
    * catalog path). Same lifecycle: entries for stopped sessions are
    * swept on access. */
  private val shardOverCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long),
    DataFrame]()

  /** [[shardBalanced]] over an arbitrary `(doc_id, n_tokens)` relation —
    * the composable form. Persists its range-partitioned intermediate
    * (REQUIRED for partition-id stability across the two prefix-sum jobs,
    * same as the catalog path), deduplicated across calls via
    * [[shardOverCache]] so a session runs each distinct input once. */
  private[ops] def shardBalancedOver(s: SparkSession, docsTok: DataFrame,
      budget: Long = SHARD_BUDGET): DataFrame = {
    require(budget > 0 && (budget & (budget - 1)) == 0,
      "budget must be a power of two: the floor-of-double shard cut is only " +
        "exactly integer division (and so exactly oracle-replayable) then")
    val h = md5(concat(lit("shard:"), col("doc_id").cast("string")))
    shardOverCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val parted = shardOverCache.computeIfAbsent(
      (s, docsTok.queryExecution.analyzed.canonicalized, budget), _ =>
        docsTok
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"), h.as("h"))
          .repartitionByRange(SHARD_PARTS, col("h"), col("doc_id"))
          .persist())
    shardFromParted(s, parted, budget)
  }

  private def shardFromParted(s: SparkSession, parted: DataFrame,
      budget: Long = SHARD_BUDGET): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val BUDGET = budget
    val PARTS = SHARD_PARTS
    // One row per partition → driver → exclusive prefix offsets. Partition
    // ids are stable here: spark_partition_id reads the slice the range
    // exchange produced, and both jobs below reuse the same persisted
    // partitioning.
    val partSums = parted.groupBy(spark_partition_id().as("pid"))
      .agg(sum(col("n_tokens")).as("t")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until PARTS).scanLeft(0L)((acc, p) => acc + partSums.getOrElse(p, 0L))
    val offsetsDf = s.createDataFrame(
      s.sparkContext.parallelize((0 until PARTS).map(p => org.apache.spark.sql.Row(p, offsets(p))), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pid", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("off", org.apache.spark.sql.types.LongType))))
    val w = Window.partitionBy(col("pid")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted.withColumn("pid", spark_partition_id())
      .join(broadcast(offsetsDf), "pid")
      .withColumn("cum", col("off") + sum(col("n_tokens")).over(w))
      .withColumn("shard_id", floor((col("cum") - col("n_tokens")).cast("double") / BUDGET).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("shard_id"))
  }

  /** PII patterns shared by the scrub operator and its oracle. [0-9] instead
    * of \d and explicit classes throughout: the Java regex engine (Spark)
    * and RE2 (DuckDB) agree on this subset bit-for-bit. */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\b555-01[0-9]{2}\\b"
  private val IpPat = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** PII detection + redaction — the scrubbing stage every public training
    * pipeline runs before anything else touches the text. The corpus is
    * synthetic word-salad, so the PII is planted deterministically from
    * doc_id (both engines plant the identical strings); the operator under
    * test is the detect/redact pass: count emails/phones/IPs per source and
    * measure the scrubbed output. Pure per-row regex expressions — codegen'd,
    * zero shuffles before the tiny per-source aggregate; at 100 TB this runs
    * at scan speed. */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val planted = concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com now")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call 555-01"), lpad((col("doc_id") % 100).cast("string"), 2, "0"), lit(" today")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string")))
        .otherwise(lit("")))
    val nEmail = size(regexp_extract_all(col("raw"), lit(EmailPat), lit(0)))
    val nPhone = size(regexp_extract_all(col("raw"), lit(PhonePat), lit(0)))
    val nIp = size(regexp_extract_all(col("raw"), lit(IpPat), lit(0)))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("raw"), EmailPat, "[EMAIL]"),
        PhonePat, "[PHONE]"),
      IpPat, "[IP]")
    documents(s, d)
      .select(col("doc_id"), col("source"), planted.as("raw"))
      .select(col("source"), col("raw"), nEmail.as("ne"), nPhone.as("np"), nIp.as("ni"),
        scrubbed.as("clean"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ne")).as("n_emails"),
        sum(col("np")).as("n_phones"),
        sum(col("ni")).as("n_ips"),
        sum(when(col("ne") + col("np") + col("ni") === 0, 1L).otherwise(0L)).as("n_clean"),
        sum(length(col("clean"))).as("scrubbed_chars"))
  }

  /** HTML boilerplate stripping — the extraction stage between a web crawl
    * and every text operator above. Deterministic markup is wrapped around
    * each document inline (same string in both engines), and the operator
    * under test is the strip: script blocks (with their CONTENT) removed
    * first, then tags, then entity decode and whitespace normalization.
    * Emits the md5 of each cleaned document, so the oracle verifies the
    * exact output text, not just lengths. Per-row regex chain — scan speed
    * at any scale. */
  def htmlStrip(s: SparkSession, d: String): DataFrame = {
    val raw = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><script type=\"text/javascript\">var x = 1; if (x < 2) { x++; }</script></head><body><p>"),
      col("text"),
      lit("</p><br/><div class=\"footer\">&copy; 2024 Example Corp &amp; Partners</div></body></html>"))
    val noScript = regexp_replace(col("raw"), "(?s)<script[^>]*>.*?</script>", " ")
    val noTags = regexp_replace(noScript, "<[^>]+>", " ")
    val decoded = call_function("replace",
      call_function("replace", noTags, lit("&copy;"), lit("(c)")),
      lit("&amp;"), lit("&"))
    val clean = trim(regexp_replace(decoded, "\\s+", " "))
    documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        length(col("raw")).as("raw_len"),
        length(clean).as("clean_len"),
        md5(clean).as("clean_hash"))
  }

  /** Temperature-based source mixing — the multinomial reweighting used to
    * assemble training mixes (weight per source ∝ tokens^α, here α = 0.5):
    * upsamples small sources relative to their natural share. All arithmetic
    * is engine-portable by construction: sqrt is IEEE-correctly-rounded,
    * and the weight is floor'd to an INTEGER micro-weight before any
    * cross-source sum, so the normalization never depends on float
    * summation order. Output: per source, its natural share and its
    * temperature-adjusted document budget out of 100k. */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val BUDGET = 100000L
    val perSource = documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCountCol(col("text")).cast("long")).as("n_tokens"))
      .withColumn("w_micro", floor(sqrt(col("n_tokens").cast("double")) * 1000000).cast("long"))
    // Cross-source totals as a window over the per-source frame: the
    // frame is bounded by the number of sources (control-plane sized),
    // and the window keeps the corpus scanned ONCE — the aggregate-
    // then-re-aggregate alternative plans a second full scan.
    val w = Window.partitionBy(lit(1))
    perSource
      .withColumn("tot_tokens", sum(col("n_tokens")).over(w))
      .withColumn("tot_w", sum(col("w_micro")).over(w))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot_tokens")).as("natural_share"),
        (col("w_micro").cast("double") / col("tot_w")).as("temp_share"),
        floor(col("w_micro") * BUDGET / col("tot_w")).cast("long").as("target_docs"))
  }

  /** Mixture budget/epochs audit (catalog `x_mix_epochs`) — the question a
    * pipeline owner asks AFTER choosing a temperature mix: at a total token
    * budget of B (here 2× the corpus, derived from the data so the entry
    * has no magic constant), how many tokens are drawn from each source,
    * and how many EPOCHS of that source does the draw imply? Temperature
    * upsampling (weight ∝ tokens^0.5, the [[mixTemperature]] discipline)
    * makes small sources repeat: epochs_ppm > 1e6 flags data that will be
    * seen more than once — the memorization/diversity trade the audit
    * exists to surface.
    *
    * All arithmetic is integral: milli-weights (sqrt floor'd at 1e3 —
    * coarser than mixTemperature's 1e6 so `w_milli * B` keeps long
    * headroom to ~1e10-token corpora; past that, widen to decimal) and
    * `div` floor division, so both engines compute bit-identical budgets.
    * One groupBy over the corpus + a broadcast of per-source totals —
    * scan-bounded at any scale. */
  def mixEpochs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCountCol(col("text")).cast("long")).as("n_tokens"))
      .withColumn("w_milli", floor(sqrt(col("n_tokens").cast("double")) * 1000).cast("long"))
    // Single-scan totals, same discipline as [[mixTemperature]].
    val w = Window.partitionBy(lit(1))
    perSource
      .withColumn("tot_tokens", sum(col("n_tokens")).over(w))
      .withColumn("tot_w", sum(col("w_milli")).over(w))
      .withColumn("draw_tokens", expr("(w_milli * (2 * tot_tokens)) div tot_w"))
      .withColumn("epochs_ppm", expr("(draw_tokens * 1000000) div n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("draw_tokens"), col("epochs_ppm"),
        (col("epochs_ppm") > 1000000L).as("repeats_data"))
  }

  /** Heavy hitters via a mergeable Misra-Gries sketch, k = 64: which terms
    * exceed 1/(k+1) of all token occurrences. The production pattern at
    * 100 TB is sketch-prune + exact-verify: the bounded-memory sketch
    * (partial-aggregated, at most k counters per partition and k overall —
    * no full-cardinality state) nominates <= k candidates, and only those
    * are joined against exact counts. The MG guarantee (every item with
    * count > N/(k+1) survives any merge tree — property-proven in
    * HeavyHittersSpec) makes the final output DETERMINISTIC even though
    * sketch internals depend on merge order: it is exactly the true
    * heavy-hitter set with exact counts, which is what the oracle checks.
    *
    * The verify side honors the sketch's whole point: the exact groupBy
    * aggregates ONLY tokens that survive a semi-join against the broadcast
    * <= K candidate set — the full (quasi-unbounded at web scale)
    * vocabulary is never shuffled. N comes from a plain count() riding the
    * SAME partial aggregate as the sketch pass, so the stream is scanned
    * exactly twice: once to nominate, once to verify. The <= K+1 values
    * pinned on the driver are control-plane sized (same regime as the IVF
    * centroids).
    *
    * SNAPSHOT SEMANTICS: the sketch job runs EAGERLY at construction time
    * (the `.head()` below) and embeds N and the candidate list as driver
    * constants in the returned plan — the one catalog query that needs
    * live data at build time. Re-executing the returned DataFrame after
    * the source changed recomputes only the exact counts, silently
    * combining them with the STALE N/candidates; a consumer that
    * re-executes over changing data must call this method again (or fold
    * N and the candidates in via a scalar subquery of the sketch
    * aggregate, trading the broadcast-semi-join plan pinned by spec). */
  private val HH_K = 64

  /** The shared prune-then-exact-verify tail of BOTH heavy-hitter entries:
    * the sketch (however it was obtained — one batch job or a streamed
    * fold) supplies ≤K candidate terms and the exact stream length; exact
    * counts are aggregated ONLY for tokens surviving a broadcast semi-join
    * against those candidates, then thresholded at N/(K+1). One body ⇒
    * the stream/batch shared-oracle parity cannot drift. */
  private def hhExactVerify(s: SparkSession, d: String,
      candTerms: Seq[String], nTotal: Long): DataFrame = {
    val cands = s.createDataFrame(
      s.sparkContext.parallelize(candTerms.map(org.apache.spark.sql.Row(_)), 1),
      new org.apache.spark.sql.types.StructType()
        .add("tok", org.apache.spark.sql.types.StringType, nullable = false))
    documents(s, d).select(explode(tokensCol(lower(col("text")))).as("tok"))
      .join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * (HH_K + 1) > nTotal)
      .select(col("tok").as("term"), col("n_occurrences"))
      .orderBy(col("term"))
  }

  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d).select(explode(tokensCol(lower(col("text")))).as("tok"))
    val hh = udaf(graft.functions.HeavyHittersAggregator(HH_K))
    // One sketch job: <= K candidate terms + the exact stream length.
    val sk = toks.agg(hh(col("tok")).as("sketch"), count(lit(1)).as("n_total")).head()
    hhExactVerify(s, d, sk.getMap[String, Long](0).keys.toSeq.sorted, sk.getLong(1))
  }

  /** Streaming face of [[heavyHitters]] (catalog `x_stream_heavy_hitters`):
    * the corpus is staged into micro-batches, each batch is sketched with
    * the same Misra-Gries Aggregator, and the running sketch folds forward
    * under the mergeable-summaries rule (see
    * [[graft.streaming.SketchStream]] for the guarantee and the
    * exactly-once state sink). The post-drain prune + exact-verify is
    * identical to the batch entry's, so the output — and therefore the
    * oracle — is identical too, for any slicing into batches. */
  def heavyHittersStream(s: SparkSession, d: String): DataFrame = {
    val work = graft.ops.Scratch.dir("graft_stream_hh")
    val stage = s"$work/stage"
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    (0 until 3).foreach { b =>
      docs.filter(col("doc_id") % 3 === b).coalesce(1).write.mode("append").parquet(stage)
    }
    val (sketch, nTotal) = graft.streaming.SketchStream.runHeavyHitters(s, stage, work, HH_K)
    hhExactVerify(s, d, sketch.keys.toSeq.sorted, nTotal)
  }

  /** The maintenance lifecycle of the sketch state sink (catalog
    * `x_stream_hh_pruned`) — the state-CHAIN counterpart of the two index
    * compaction entries, proving the OTHER day-2 op: drain half the
    * backlog, STOP, prune the audit-trail partitions below the committed
    * watermark ([[graft.streaming.SketchStream.pruneState]] — prune, not
    * fold: batch b reads only the LATEST prior link, so the latest
    * partition carries the whole running sketch and earlier links are
    * droppable audit trail), then resume from the checkpoint over the
    * rest. The resumed fold reads the kept watermark link, so the final
    * sketch — and therefore the prune + exact-verify output — is
    * identical to the unpruned stream's and to the one-shot batch entry's:
    * the oracle is the SAME SQL as `x_heavy_hitters`. */
  def heavyHittersStreamPruned(s: SparkSession, d: String): DataFrame = {
    val work = graft.ops.Scratch.dir("graft_stream_hh_p")
    val stage = s"$work/stage"
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    // First backlog: two files -> committed micro-batches 0 and 1.
    (0 until 2).foreach { b =>
      docs.filter(col("doc_id") % 4 === b).coalesce(1).write.mode("append").parquet(stage)
    }
    graft.streaming.SketchStream.runHeavyHitters(s, stage, work, HH_K)
    // Maintenance window: stream stopped, batch 1 committed — drop the
    // audit trail strictly below it (partition 0); partition 1 IS the
    // running state the resumed batch 2 reads.
    graft.streaming.SketchStream.pruneState(s, s"$work/hh_state", keepFrom = 1L)
    // Second backlog: the checkpoint resumes at batch 2.
    (2 until 4).foreach { b =>
      docs.filter(col("doc_id") % 4 === b).coalesce(1).write.mode("append").parquet(stage)
    }
    val (sketch, nTotal) = graft.streaming.SketchStream.runHeavyHitters(s, stage, work, HH_K)
    hhExactVerify(s, d, sketch.keys.toSeq.sorted, nTotal)
  }

  private val CMS_W = 64 // counters per row — deliberately NARROWER than the
  // bigram vocabulary (~1k) so the demo sketch genuinely collides and the
  // audit shows real overcounts; production sizes w = ceil(e/ε) instead
  private val CMS_P = 2147483647L // Mersenne 2^31-1, as in the minhash family
  /** Kirsch–Mitzenmacher pairs for the CMS rows — fixed constants well under
    * 2^20, so a*h with a 28-bit base hash stays under 2^48: exact in plain
    * 64-bit arithmetic in ANY engine (same discipline as the minhash
    * permutation family). */
  private val cmsParams: Seq[(Long, Long)] =
    Seq((976369L, 130363L), (875983L, 440191L), (647011L, 568021L), (508607L, 9187L))

  /** Count-Min sketch + point-query audit — the frequency-sketch sibling of
    * the Misra-Gries heavy hitters (MG answers "which terms are frequent",
    * CMS answers "how frequent is THIS term", with a one-sided guarantee:
    * estimates never undercount). The sketch is held AS A RELATION of
    * (row, bucket, count) cells — d·w rows regardless of corpus size — so
    * it is mergeable by plain counter addition: per-shard sketches sum into
    * the global sketch, which is exactly what the map-side partial
    * aggregation of one `groupBy(row, bucket)` already computes; at 100 TB
    * the build is one token scan plus a d·w-cell aggregate, and the
    * top-term probe joins the cell relation broadcast. The stream counted
    * is BIGRAMS (the corpus's unigram vocabulary is smaller than any
    * useful sketch; bigrams give a ~1k vocabulary against 4×64 cells, so
    * the audit shows real collisions). It estimates the 20
    * highest-frequency bigrams (exact ground truth via TakeOrdered, ties
    * broken by term) and reports the CMS overcount, which the guarantee
    * pins ≥ 0 — all integers, hash-exact in the oracle. */
  def countMinAudit(s: SparkSession, d: String): DataFrame =
    cmsEstimateTop20(s, d, cmsCells(documents(s, d)))

  private def cmsBaseHash(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  private def cmsBucket(i: Int, h: Column): Column = {
    val (a, b) = cmsParams(i)
    (((h * a) + b) % CMS_P) % CMS_W
  }

  /** The bigram stream of a (…, text) relation hashed into its 28-bit key
    * column — shared by the sketch build and the top-20 probe. */
  private def cmsBigrams(docs: DataFrame): DataFrame =
    docs.select(tokensCol(lower(col("text"))).as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("w")) - 2),
        i => concat(element_at(col("w"), i + 1), lit(" "),
          element_at(col("w"), i + 2)))).as("tok"))
      .withColumn("h", cmsBaseHash(col("tok")))

  /** (row_i, bucket, cnt) cells of the CMS over a (…, text) relation —
    * the per-batch kernel [[graft.streaming.SketchStream.runCountMin]]
    * folds forward, and the whole sketch for the one-shot entry.
    *
    * ONE corpus pass: each token emits its d=4 buckets as an array and
    * `posexplode` supplies the row index — the earlier shape (a d-branch
    * union, one `select` per hash row) re-evaluated the tokenize+explode
    * bigram stream once PER ROW, i.e. d-1 extra corpus scans on the most
    * expensive stage of the sketch. Spec-pinned in CountMinSpec: the
    * cells plan contains exactly one scan of `documents`. */
  private[ops] def cmsCells(docs: DataFrame): DataFrame =
    cmsBigrams(docs)
      .select(posexplode(array(cmsParams.indices.map(i => cmsBucket(i, col("h"))): _*))
        .as(Seq("row_i", "bucket")))
      .groupBy(col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-query audit of a cell relation against the corpus's exact
    * top-20 bigram truth (shared by the batch and streaming entries —
    * identical cells ⟹ identical output ⟹ one oracle). */
  private def cmsEstimateTop20(s: SparkSession, d: String, cells: DataFrame): DataFrame = {
    val top = cmsBigrams(documents(s, d))
      .groupBy(col("tok")).agg(count(lit(1)).as("true_count"))
      .orderBy(col("true_count").desc, col("tok")).limit(20)
      .withColumn("h", cmsBaseHash(col("tok")))
    // Same single-pass discipline as [[cmsCells]]: the probe rows are only
    // 20, but a d-branch union over `top` re-plans (and without exchange
    // reuse re-RUNS) the corpus-wide truth aggregation per branch.
    val probes = top.select(col("tok"), col("true_count"),
      posexplode(array(cmsParams.indices.map(i => cmsBucket(i, col("h"))): _*))
        .as(Seq("row_i", "bucket")))
    probes.join(cells, Seq("row_i", "bucket"))
      .groupBy(col("tok"), col("true_count"))
      .agg(min(col("cnt")).as("est_count"))
      .select(col("tok").as("term"), col("true_count"), col("est_count"),
        (col("est_count") - col("true_count")).as("overcount"))
  }

  /** The CMS folded over a REAL file-source stream (catalog
    * `x_stream_countmin`): the corpus staged as three micro-batches
    * (doc_id mod 3), each batch's cells added onto the running state
    * through the exactly-once batch_id chain. Counter addition is
    * associative and commutative, so the drained state equals the
    * one-shot sketch for ANY slicing — the oracle is `x_countmin`'s SQL
    * verbatim, asserting stream/batch parity, and unlike the Misra-Gries
    * stream no merge-order scaffolding is needed anywhere. */
  def countMinStream(s: SparkSession, d: String): DataFrame = {
    val work = graft.ops.Scratch.dir("graft_stream_cms")
    val stage = s"$work/stage"
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    (0 until 3).foreach { b =>
      docs.filter(col("doc_id") % 3 === b).coalesce(1).write.mode("append").parquet(stage)
    }
    val cells = graft.streaming.SketchStream.runCountMin(s, stage, work, cmsCells)
    cmsEstimateTop20(s, d, cells)
  }

  // ---- Dataset diff: snapshot-to-snapshot corpus lifecycle accounting

  private[ops] val DIFF_NEW_OFFSET = 40000000L // disjoint from doc ids and every clone family

  /** Deterministic "next snapshot" fixture derived from the corpus: every
    * doc_id % 10 == 7 is deleted, every % 10 == 3 gets a revision appended
    * (content change, same id), and every % 10 == 1 spawns a brand-new doc
    * at id + offset — the three mutations a recurring crawl/ingest
    * produces between training-set versions. */
  private[ops] def documentsV2(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
    val kept = base.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 3,
          concat(col("text"), lit(" rev2 "), md5(col("text"))))
          .otherwise(col("text")).as("text"))
    val added = base.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + DIFF_NEW_OFFSET).as("doc_id"),
        concat(lit("fresh "), md5(concat(col("text"), lit("#new")))).as("text"))
    kept.unionByName(added)
  }

  /** The diff join both entries read: FULL OUTER on the primary key,
    * content compared by hash — at 100 TB this is ONE co-partitioned
    * shuffle on doc_id (both sides hash-partition the same way; no
    * broadcast, no skew — ids are unique) and the output is delta-sized.
    * Comparing md5 instead of the text keeps the shuffle rows narrow; the
    * false-equal probability is the hash collision rate, the industry
    * contract for snapshot diffing. */
  private def diffJoined(s: SparkSession, d: String): DataFrame = {
    val v1 = documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h1"),
        length(col("text")).cast("long").as("c1"))
    val v2 = documentsV2(s, d)
      .select(col("doc_id"), md5(col("text")).as("h2"),
        length(col("text")).cast("long").as("c2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h1").isNull, lit("added"))
          .when(col("h2").isNull, lit("removed"))
          .when(col("h1") =!= col("h2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        coalesce(col("c1"), lit(0L)).as("chars_v1"),
        coalesce(col("c2"), lit(0L)).as("chars_v2"))
  }

  /** Per-doc snapshot delta (catalog `x_dataset_diff`): the rows an
    * incremental pipeline acts on — added docs to process, removed docs to
    * retire, changed docs to re-embed/re-dedup. Output is DELTA-sized
    * (unchanged rows never leave the join), which is what makes the shape
    * viable at 100 TB where the snapshot itself is not materializable as
    * a query result. */
  def datasetDiff(s: SparkSession, d: String): DataFrame =
    diffJoined(s, d)
      .filter(col("status") =!= "unchanged")
      .orderBy(col("doc_id"))

  /** Snapshot accounting (catalog `x_dataset_diff_stats`): docs and char
    * mass per status including `unchanged` — the version-to-version
    * report a dataset owner signs off on before a retrain. */
  def datasetDiffStats(s: SparkSession, d: String): DataFrame =
    diffJoined(s, d)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars_v1")).as("chars_v1"),
        sum(col("chars_v2")).as("chars_v2"))
      .orderBy(col("status"))

  /** Composed lifecycle pipeline (catalog `x_diff_dedup_probe`): snapshot
    * diff → near-dup probe of ONLY the delta against the previous
    * snapshot's signature index. This is the day-2 flow the diff exists
    * FOR — a new crawl lands, and the added/changed documents (never the
    * unchanged mass) get near-dup-checked against the corpus before
    * admission. The delta side here is the diff's left side computed
    * inline (added = no v1 row, changed = hash differs); the index side
    * is the v1 corpus's banded minhash signatures — in production a
    * persisted table, exactly [[Dedup.dedupIncremental]]'s contract. A
    * changed doc matching its own id says "minor revision, near-dups its
    * previous version" — the re-embed/re-dedup decision signal. Probe
    * cost is O(delta · bucket occupancy); the index is scanned once and
    * never shuffled. */
  def diffDedupProbe(s: SparkSession, d: String): DataFrame = {
    val v1h = documents(s, d).select(col("doc_id"), md5(col("text")).as("h1"))
    val delta = documentsV2(s, d).join(v1h, Seq("doc_id"), "left_outer")
      .filter(col("h1").isNull || md5(col("text")) =!= col("h1"))
      .select(col("doc_id"), col("text"))
    val index = documents(s, d).select(col("doc_id"), col("text"))
    Dedup.incrementalMatches(
      Dedup.mhBands(Dedup.minhashSignaturesOf(delta)),
      Dedup.mhBands(Dedup.minhashSignaturesOf(index)))
  }

  /** Per-source length-outlier audit (catalog `x_source_outliers`) — the
    * RELATIVE calibration the absolute-threshold gates (`x_gopher_rules`,
    * the CDF gate) deliberately don't do: a 40-token doc is normal for a
    * tweet-like source and anomalous for a news source, so the z-score is
    * computed against each doc's OWN source distribution. Token counts
    * are integers, so the per-source sums (Σn, Σn²) are exact 64-bit —
    * mean/std derive deterministically with no decimal or quantization
    * machinery — and the output is all integral: per source, docs, token
    * mass, and how many docs sit beyond 1σ/2σ of the source's own length
    * distribution (the 2σ band is the re-crawl/review queue). Plan: one
    * scan for the stats (sources-sized aggregate, broadcast back), one
    * scan-speed z pass — no window, no sort. */
  def sourceOutliers(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"),
        tokenCountCol(col("text")).cast("long").as("n_tokens"))
    val st = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("sum_tokens"),
      sum(col("n_tokens") * col("n_tokens")).as("sum_sq"))
    val mean = col("sum_tokens").cast("double") / col("n_docs")
    val variance = col("sum_sq").cast("double") / col("n_docs") -
      (col("sum_tokens").cast("double") / col("n_docs")) *
      (col("sum_tokens").cast("double") / col("n_docs"))
    val ms = st.select(col("source"), col("n_docs"), col("sum_tokens"),
      mean.as("mean"), variance.as("variance"))
    docs.join(broadcast(ms), "source")
      .withColumn("z", when(col("variance") <= 0, lit(0.0))
        .otherwise(abs(col("n_tokens") - col("mean")) / sqrt(col("variance"))))
      .groupBy(col("source"), col("n_docs"), col("sum_tokens"))
      .agg(
        sum(when(col("z") > 1.0, 1L).otherwise(0L)).as("n_gt1s"),
        sum(when(col("z") > 2.0, 1L).otherwise(0L)).as("n_gt2s"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_source_outliers" -> (sourceOutliers _),
    "x_dataset_diff" -> (datasetDiff _),
    "x_dataset_diff_stats" -> (datasetDiffStats _),
    "x_diff_dedup_probe" -> (diffDedupProbe _),
    "x_heavy_hitters" -> (heavyHitters _),
    "x_countmin" -> (countMinAudit _),
    "x_stream_countmin" -> (countMinStream _),
    "x_stream_heavy_hitters" -> (heavyHittersStream _),
    "x_stream_hh_pruned" -> (heavyHittersStreamPruned _),
    "x_pii_scrub" -> (piiScrub _),
    "x_html_strip" -> (htmlStrip _),
    "x_mix_temperature" -> (mixTemperature _),
    "x_mix_epochs" -> (mixEpochs _),
    "x_pack_bins" -> (packBins _),
    "x_shard_balanced" -> (shardBalanced _),
    "x_pipeline_e2e" -> (pipelineE2e _),
    "x_pipeline_full" -> (pipelineFull _),
    "x_repetition" -> (repetitionStats _),
    "x_mix_weighted" -> (mixWeighted _),
    "x_token_rarity" -> (tokenRarity _),
    "x_quota_sample" -> (quotaSample _),
    "x_keywords" -> (keywords _),
    "x_bm25_search" -> (bm25Search _),
    "x_rrf_fusion" -> (rrfFusion _),
    "x_doc_windows" -> (docWindows _),
    "x_decontam" -> (decontam _),
    "x_decontam_bloom" -> (decontamBloom _),
    "x_decontam_scrub" -> (decontamScrub _),
    "x_gopher_rules" -> (gopherRules _),
    "x_unicode_norm" -> (unicodeNorm _),
    "x_stratified_sample" -> ((s: SparkSession, d: String) => stratifiedSample(s, d)),
    "x_hash_sample" -> (hashSample _),
    "x_quality_gate_cdf" -> (qualityGateCdf _),
    "x_lm_bigram_score" -> (lmBigramScore _),
    "x_vocab_coverage" -> ((s: SparkSession, d: String) => vocabCoverage(s, d)),
    "x_bpe_train_merges" -> ((s: SparkSession, d: String) => bpeTrainMerges(s, d)),
    "x_bpe_apply" -> ((s: SparkSession, d: String) => bpeApply(s, d)),
    "x_bpe_token_count" -> (bpeTokenCount _),
    "x_bpe_pair_stats" -> (bpePairStats _),
    "x_token_count" -> (tokenCount _),
    "x_quality_score" -> (qualityScore _),
    "x_lang_id" -> (langId _),
    "x_lang_classifier" -> (langClassifier _),
    "x_fingerprint" -> (fingerprint _)
  )

  /** The sketch's guarantee makes the output the exact heavy-hitter set,
    * so the oracle is the direct relational statement of that set — shared
    * verbatim by the batch entry and its streaming twin (the oracle IS the
    * parity check). */
  /** BM25 scored-docs CTE chain ending in `agg(doc_id, score)` — shared
    * by the x_bm25_search oracle and the RRF fusion oracle's lexical arm.
    * The per-doc sum MUST fold in BM25_TERMS order (float addition is
    * order-sensitive); the CASE chain is generated from the same Seq the
    * Spark pivot folds over. */
  private lazy val bm25AggCtes: String = {
    val termList = BM25_TERMS.map(t => s"'$t'").mkString(", ")
    val caseChain = BM25_TERMS.map(t =>
      s"COALESCE(MAX(CASE WHEN term = '$t' THEN score END), 0.0)").mkString("\n        |       + ")
    s"""dk AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS tk FROM documents),
      |docs AS (SELECT doc_id, len(tk) AS dl, tk FROM dk),
      |stats AS (SELECT count(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens FROM docs),
      |tf AS (SELECT doc_id, dl, term, count(*) AS tf
      |       FROM (SELECT doc_id, dl, unnest(tk) AS term FROM docs)
      |       WHERE term IN ($termList)
      |       GROUP BY doc_id, dl, term),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |sc AS (SELECT doc_id, term,
      |         ((n_docs - df + 0.5) / (df + 0.5)) *
      |         ((tf * CAST(2.2 AS DOUBLE)) /
      |           (tf + 1.2 *
      |             (1.0 - 0.75 +
      |               0.75 * dl / (total_tokens / n_docs)))) AS score
      |       FROM tf JOIN dfreq USING (term), stats),
      |agg AS (SELECT doc_id,
      |         $caseChain AS score
      |       FROM sc GROUP BY doc_id)""".stripMargin
  }

  private val heavyHittersOracleSql: String =
    """WITH tk AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok FROM documents),
      |n AS (SELECT count(*) AS n_total FROM tk),
      |c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok)
      |SELECT tok AS term, CAST(cnt AS BIGINT) AS n_occurrences
      |FROM c, n WHERE cnt * 65 > n_total""".stripMargin

  /** The BPE training loop unrolled: one (pairs, argmax, fold-apply,
    * count) CTE quartet per round. `list_reduce` replays the exact greedy
    * left-to-right merge fold `bpeTrainMerges` runs via `aggregate`. */
  private def bpeTrainOracleSql(nMerges: Int): String = {
    val iters = (1 to nMerges).map { i =>
      s"""p$i AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(list_transform(range(1, len(sy)), j -> sy[j] || ' ' || sy[j+1])) AS pair, n
         |  FROM (SELECT string_split(sym, ' ') AS sy, n FROM w${i - 1}))
         |  GROUP BY pair),
         |m$i AS (SELECT pair, cnt, split_part(pair, ' ', 1) AS pa, split_part(pair, ' ', 2) AS pb
         |        FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |w$i AS (SELECT w, list_reduce(string_split(sym, ' '),
         |          (acc, x) -> CASE WHEN (acc = m.pa OR ends_with(acc, ' ' || m.pa)) AND x = m.pb
         |                      THEN substr(acc, 1, length(acc) - length(m.pa)) || m.pa || m.pb
         |                      ELSE acc || ' ' || x END) AS sym, n
         |        FROM w${i - 1}, m$i m),
         |s$i AS (SELECT CAST(sum(len(string_split(sym, ' ')) * n) AS BIGINT) AS tot FROM w$i)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to nMerges).map { i =>
      s"SELECT $i AS step, (SELECT pair FROM m$i) AS pair, (SELECT cnt FROM m$i) AS n_pairs, (SELECT tot FROM s$i) AS corpus_syms_after"
    }.mkString("\nUNION ALL ")
    s"""WITH $bpeTrainCtePrefix,
       |$iters
       |$unions""".stripMargin
  }

  /** The shared training-chain prefix: pretokens with the Ġ convention and
    * the weighted `(w, sym, n)` vocabulary table. */
  private def bpeTrainCtePrefix: String =
    """toks AS (
      |  SELECT regexp_replace(t, '^ ', 'Ġ') AS w FROM (
      |    SELECT unnest(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS t
      |    FROM documents)),
      |w0 AS (
      |  SELECT w, array_to_string(regexp_extract_all(w, '.'), ' ') AS sym, count(*) AS n
      |  FROM toks GROUP BY w)""".stripMargin

  /** The apply oracle: replay the training chain, then tokenize the corpus
    * by the final dictionary exactly as [[bpeApply]] does. */
  private def bpeApplyOracleSql(nMerges: Int): String = {
    val iters = (1 to nMerges).map { i =>
      s"""p$i AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(list_transform(range(1, len(sy)), j -> sy[j] || ' ' || sy[j+1])) AS pair, n
         |  FROM (SELECT string_split(sym, ' ') AS sy, n FROM w${i - 1}))
         |  GROUP BY pair),
         |m$i AS (SELECT split_part(pair, ' ', 1) AS pa, split_part(pair, ' ', 2) AS pb
         |        FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |w$i AS (SELECT w, list_reduce(string_split(sym, ' '),
         |          (acc, x) -> CASE WHEN (acc = m.pa OR ends_with(acc, ' ' || m.pa)) AND x = m.pb
         |                      THEN substr(acc, 1, length(acc) - length(m.pa)) || m.pa || m.pb
         |                      ELSE acc || ' ' || x END) AS sym, n
         |        FROM w${i - 1}, m$i m)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTrainCtePrefix,
       |$iters,
       |dict AS (SELECT w, len(string_split(sym, ' ')) AS n_syms FROM w$nMerges),
       |ltoks AS (
       |  SELECT lang, regexp_replace(t, '^ ', 'Ġ') AS w FROM (
       |    SELECT lang, unnest(regexp_extract_all(text, ' ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+')) AS t
       |    FROM documents))
       |SELECT lang, count(*) AS n_pretokens, CAST(sum(d.n_syms) AS BIGINT) AS n_bpe_tokens
       |FROM ltoks JOIN dict d USING (w)
       |GROUP BY lang""".stripMargin
  }

  private val decontamOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS w FROM documents),
      |bench AS (
      |  SELECT DISTINCT unnest(list_transform(range(0, greatest(len(w) - 3, 0)),
      |           i -> md5(array_to_string(w[i+1 : i+4], ' ')))) AS g
      |  FROM tok WHERE doc_id < 10),
      |corpus AS (
      |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(w) - 3, 0)),
      |           i -> md5(array_to_string(w[i+1 : i+4], ' ')))) AS g
      |  FROM tok WHERE doc_id >= 100 AND doc_id < 400)
      |SELECT doc_id, count(DISTINCT g) AS n_contaminated
      |FROM corpus JOIN bench USING (g)
      |GROUP BY doc_id""".stripMargin

  /** Snapshot-v2 + diff CTE chain ending in `diff(doc_id, status,
    * chars_v1, chars_v2)` — shared by both dataset-diff oracles. */
  private def diffCtes: String =
    s"""v1 AS (SELECT doc_id, md5(text) AS h, CAST(length(text) AS BIGINT) AS c
       |       FROM documents),
       |v2src AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 10 = 3 THEN text || ' rev2 ' || md5(text)
       |              ELSE text END AS text
       |  FROM documents WHERE doc_id % 10 <> 7
       |  UNION ALL
       |  SELECT doc_id + $DIFF_NEW_OFFSET, 'fresh ' || md5(text || '#new')
       |  FROM documents WHERE doc_id % 10 = 1),
       |v2 AS (SELECT doc_id, md5(text) AS h, CAST(length(text) AS BIGINT) AS c
       |       FROM v2src),
       |diff AS (
       |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       |         CASE WHEN v1.h IS NULL THEN 'added'
       |              WHEN v2.h IS NULL THEN 'removed'
       |              WHEN v1.h <> v2.h THEN 'changed'
       |              ELSE 'unchanged' END AS status,
       |         COALESCE(v1.c, 0) AS chars_v1, COALESCE(v2.c, 0) AS chars_v2
       |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)""".stripMargin

  /** DuckDB twin of the CMS build + top-20 probe (shared by the batch and
    * streaming entries): same KM constants, same 28-bit base hash,
    * all-integer cells — the sketch replayed as plain GROUP BYs. */
  private def countMinOracleSql: String = {
    val perm = cmsParams.zipWithIndex
      .map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(",")
    s"""WITH w AS (SELECT regexp_extract_all(lower(text), '\\S+') AS w FROM documents),
       |tok AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS tok
       |        FROM w WHERE len(w) >= 2),
       |h AS (SELECT tok, CAST('0x' || substring(md5(tok), 1, 7) AS BIGINT) AS h FROM tok),
       |cells AS (SELECT p.i AS row_i, ((p.a * h.h + p.b) % $CMS_P) % $CMS_W AS bucket,
       |                 count(*) AS cnt
       |          FROM h, (VALUES $perm) p(i,a,b) GROUP BY 1, 2),
       |truth AS (SELECT tok, count(*) AS true_count FROM tok GROUP BY tok),
       |top AS (SELECT tok, true_count,
       |               CAST('0x' || substring(md5(tok), 1, 7) AS BIGINT) AS h
       |        FROM truth ORDER BY true_count DESC, tok LIMIT 20)
       |SELECT t.tok AS term, t.true_count,
       |       CAST(min(c.cnt) AS BIGINT) AS est_count,
       |       CAST(min(c.cnt) - t.true_count AS BIGINT) AS overcount
       |FROM top t
       |JOIN (VALUES $perm) p(i,a,b) ON TRUE
       |JOIN cells c ON c.row_i = p.i
       |            AND c.bucket = ((p.a * t.h + p.b) % $CMS_P) % $CMS_W
       |GROUP BY t.tok, t.true_count""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // Per-source z-band counts from exact integer sums; the double
    // mean/variance expressions mirror the Spark side token for token.
    "x_source_outliers" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |st AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |         CAST(SUM(n_tokens * n_tokens) AS BIGINT) AS sum_sq
        |  FROM docs GROUP BY source),
        |ms AS (
        |  SELECT source, n_docs, sum_tokens,
        |         CAST(sum_tokens AS DOUBLE) / n_docs AS mean,
        |         CAST(sum_sq AS DOUBLE) / n_docs -
        |           (CAST(sum_tokens AS DOUBLE) / n_docs) * (CAST(sum_tokens AS DOUBLE) / n_docs) AS variance
        |  FROM st),
        |z AS (
        |  SELECT d.source, ms.n_docs, ms.sum_tokens,
        |         CASE WHEN ms.variance <= 0 THEN 0.0
        |              ELSE abs(d.n_tokens - ms.mean) / sqrt(ms.variance) END AS z
        |  FROM docs d JOIN ms USING (source))
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, sum_tokens,
        |       CAST(SUM(CASE WHEN z > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt1s,
        |       CAST(SUM(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gt2s
        |FROM z GROUP BY source, n_docs, sum_tokens""".stripMargin,
    "x_dataset_diff" ->
      s"""WITH $diffCtes
         |SELECT doc_id, status, chars_v1, chars_v2 FROM diff
         |WHERE status <> 'unchanged'""".stripMargin,
    "x_dataset_diff_stats" ->
      s"""WITH $diffCtes
         |SELECT status, count(*) AS n_docs,
         |       CAST(SUM(chars_v1) AS BIGINT) AS chars_v1,
         |       CAST(SUM(chars_v2) AS BIGINT) AS chars_v2
         |FROM diff GROUP BY status""".stripMargin,
    "x_heavy_hitters" -> heavyHittersOracleSql,
    // Same KM constants, same 28-bit base hash, all-integer cells — the
    // sketch replayed as plain GROUP BYs.
    "x_countmin" -> countMinOracleSql,
    // Counter addition is associative: the drained stream's cells equal
    // the one-shot sketch for any micro-batch slicing, so the streaming
    // entry shares the batch oracle (stream/batch parity under the gate).
    "x_stream_countmin" -> countMinOracleSql,
    // Parity theorem: the streamed fold of per-batch sketches carries the
    // same completeness guarantee, so the prune+verify output is identical
    // to the batch entry's — SAME oracle.
    "x_stream_heavy_hitters" -> heavyHittersOracleSql,
    // The prune preserves the running sketch (latest link carries it all),
    // so the pruned lifecycle's oracle is the one-shot batch SQL verbatim.
    "x_stream_hh_pruned" -> heavyHittersOracleSql,
    // Same planted PII, same regexes (the [0-9]/explicit-class subset both
    // engines implement identically), same scrub order.
    "x_pii_scrub" ->
      """WITH raw AS (
        |  SELECT doc_id, source,
        |         text ||
        |         CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        |         CASE WHEN doc_id % 5 = 0 THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' today' ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS raw
        |  FROM documents),
        |m AS (
        |  SELECT source,
        |         len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |         len(regexp_extract_all(raw, '\b555-01[0-9]{2}\b')) AS np,
        |         len(regexp_extract_all(raw, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS ni,
        |         length(regexp_replace(regexp_replace(regexp_replace(raw,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |           '\b555-01[0-9]{2}\b', '[PHONE]', 'g'),
        |           '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g')) AS clean_len
        |  FROM raw)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(ne) AS BIGINT) AS n_emails,
        |       CAST(sum(np) AS BIGINT) AS n_phones,
        |       CAST(sum(ni) AS BIGINT) AS n_ips,
        |       CAST(sum(CASE WHEN ne + np + ni = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |       CAST(sum(clean_len) AS BIGINT) AS scrubbed_chars
        |FROM m GROUP BY source""".stripMargin,
    "x_html_strip" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |         '</title><script type="text/javascript">var x = 1; if (x < 2) { x++; }</script></head><body><p>' ||
        |         text ||
        |         '</p><br/><div class="footer">&copy; 2024 Example Corp &amp; Partners</div></body></html>' AS raw
        |  FROM documents WHERE doc_id < 50),
        |c AS (
        |  SELECT doc_id, raw,
        |         trim(regexp_replace(
        |           replace(replace(
        |             regexp_replace(regexp_replace(raw, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |               '<[^>]+>', ' ', 'g'),
        |             '&copy;', '(c)'), '&amp;', '&'),
        |           '\s+', ' ', 'g')) AS clean
        |  FROM raw)
        |SELECT doc_id, CAST(length(raw) AS INTEGER) AS raw_len,
        |       CAST(length(clean) AS INTEGER) AS clean_len, md5(clean) AS clean_hash
        |FROM c""".stripMargin,
    // Integer micro-weights before the cross-source sum: the normalization
    // is exact integer arithmetic, so no float-summation-order hazard; the
    // only doubles are single correctly-rounded sqrt/divide ops.
    "x_mix_temperature" ->
      """WITH ps AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS w_micro FROM ps),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens, CAST(sum(w_micro) AS BIGINT) AS tot_w FROM w)
        |SELECT source, n_docs, n_tokens,
        |       CAST(n_tokens AS DOUBLE) / tot_tokens AS natural_share,
        |       CAST(w_micro AS DOUBLE) / tot_w AS temp_share,
        |       CAST(floor(w_micro * 100000 / tot_w) AS BIGINT) AS target_docs
        |FROM w, t""".stripMargin,
    // Budget and epochs in pure floor division (// on BIGINTs) over the
    // same milli-weight relation — every derived column integral, so the
    // comparison is bit-exact with no float-rounding caveat.
    "x_mix_epochs" ->
      """WITH ps AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT) AS w_milli FROM ps),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens, CAST(sum(w_milli) AS BIGINT) AS tot_w FROM w),
        |b AS (SELECT source, n_docs, n_tokens,
        |        CAST((w_milli * (2 * tot_tokens)) // tot_w AS BIGINT) AS draw_tokens
        |      FROM w, t)
        |SELECT source, n_docs, n_tokens, draw_tokens,
        |       CAST((draw_tokens * 1000000) // n_tokens AS BIGINT) AS epochs_ppm,
        |       (draw_tokens * 1000000) // n_tokens > 1000000 AS repeats_data
        |FROM b""".stripMargin,
    // The oracle states the same semantics relationally (explode + two
    // aggregates + join) — deliberately a DIFFERENT formulation than the
    // codegen'd run-length scan it checks.
    "x_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS w FROM documents
        |  WHERE len(regexp_extract_all(text, '\S+')) >= 2),
        |b AS (
        |  SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct,
        |         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
        |  FROM w),
        |c AS (
        |  SELECT doc_id, g, count(*) AS c
        |  FROM (SELECT doc_id, unnest(bg) AS g FROM b) GROUP BY doc_id, g),
        |t AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_token_ratio,
        |       1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_frac,
        |       CAST(t.top_c AS DOUBLE) / t.tot AS top_bigram_frac
        |FROM b JOIN t USING (doc_id)""".stripMargin,
    // Integer-exact: BUDGET is a power of two, so the floor-of-double
    // division equals DuckDB's integer division for any cum < 2^53.
    "x_pack_bins" ->
      """WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n_tokens,
        |         CAST('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM documents),
        |b AS (
        |  SELECT *, h % 16 AS bucket,
        |         sum(n_tokens) OVER (PARTITION BY h % 16 ORDER BY h, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT bucket, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
        |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
        |FROM b GROUP BY bucket, CAST((cum - n_tokens) // 2048 AS BIGINT)""".stripMargin,
    // One global window in the oracle vs the distributed prefix sum in
    // Spark — (h, doc_id) is a total order, so both compute the same cum.
    "x_shard_balanced" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |         md5('shard:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST((cum - n_tokens) // 2048 AS BIGINT) AS shard_id
        |FROM c""".stripMargin,
    "x_quota_sample" ->
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY CAST('0x' || substring(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
        |                    doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 100""".stripMargin,
    "x_token_rarity" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
        |cf AS (SELECT tok, count(*) AS cf FROM tk GROUP BY tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(cf.cf) AS BIGINT) AS corpus_freq_sum,
        |       CAST(sum(CASE WHEN cf.cf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       CAST(sum(cf.cf) AS DOUBLE) / count(*) AS avg_token_freq
        |FROM tk JOIN cf USING (tok)
        |GROUP BY doc_id""".stripMargin,
    "x_mix_weighted" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN CAST('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 10000
        |    < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 8000 WHEN 'fr' THEN 2500 WHEN 'es' THEN 1000 WHEN 'zh' THEN 10000 ELSE 0 END
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN CAST('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 10000
        |    < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 8000 WHEN 'fr' THEN 2500 WHEN 'es' THEN 1000 WHEN 'zh' THEN 10000 ELSE 0 END
        |    THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM documents GROUP BY lang""".stripMargin,
    // The full composition, replayed end-to-end as ONE statement: span CTEs
    // (scrub mass), wide-simhash + recursive walk (leakage split), per-doc
    // Gopher gate, Hamilton allocation over the gated train split, then the
    // running-sum shard law — every fragment verbatim from the stage
    // oracles, glued with de-collided CTE names.
    "x_pipeline_full" ->
      s"""WITH RECURSIVE ${graft.ops.Dedup.dupSpanCtes(" WHERE doc_id <> mn")},
         |sc0 AS (SELECT doc_id, SUM(span_tokens) AS dup_tokens FROM spans GROUP BY doc_id),
         |scrub AS (SELECT t.doc_id, CAST(len(t.w) AS BIGINT) - COALESCE(s.dup_tokens, 0) AS n_tokens
         |          FROM tok t LEFT JOIN sc0 s USING (doc_id)),
         |${graft.ops.Dedup.simhashWideCtes("wtok")},
         |e AS (SELECT doc_a AS u, doc_b AS v FROM wcand
         |      UNION ALL SELECT doc_b, doc_a FROM wcand),
         |walk(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT w.u, e2.v FROM walk w JOIN e e2 ON w.v = e2.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM walk GROUP BY u),
         |asg AS (SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN cc USING (doc_id)),
         |tr AS (SELECT doc_id FROM asg
         |       WHERE CAST('0x' || substring(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 80),
         |gf AS (
         |  SELECT doc_id, lang, source,
         |         len(regexp_extract_all(lower(text), '\\S+')) AS n_words,
         |         length(regexp_replace(lower(text), '\\s+', '', 'g')) AS n_word_chars,
         |         len(regexp_extract_all(lower(text), '\\S*\\pL\\S*')) AS n_alpha_words,
         |         (length(lower(text)) - length(replace(lower(text), '#', '')))
         |           + (length(lower(text)) - length(replace(lower(text), '...', ''))) // 3 AS n_sym,
         |         (CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END
         |        + CASE WHEN contains(' ' || lower(text) || ' ', ' a ') THEN 1 ELSE 0 END
         |        + CASE WHEN contains(' ' || lower(text) || ' ', ' of ') THEN 1 ELSE 0 END
         |        + CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END
         |        + CASE WHEN contains(' ' || lower(text) || ' ', ' to ') THEN 1 ELSE 0 END) AS n_stop
         |  FROM documents),
         |gate AS (
         |  SELECT doc_id, lang, source FROM gf
         |  WHERE NOT (n_words < 10 OR n_words > 100000)
         |    AND NOT (n_word_chars < n_words * 3 OR n_word_chars > n_words * 10)
         |    AND NOT (n_alpha_words * 5 < n_words * 4)
         |    AND NOT (n_sym * 10 > n_words)
         |    AND NOT (n_stop < 2)),
         |pop AS (SELECT g.lang, g.source, g.doc_id FROM gate g JOIN tr USING (doc_id)),
         |strata AS (SELECT lang, source, count(*) AS n FROM pop GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM strata),
         |alloc AS (SELECT lang, source, n,
         |            $PIPE_T * n // n_tot AS base, $PIPE_T * n % n_tot AS rem
         |          FROM strata, tot),
         |extra AS (SELECT $PIPE_T - CAST(sum(base) AS BIGINT) AS extra FROM alloc),
         |quotas AS (SELECT lang, source,
         |             base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang, source)
         |                         <= extra THEN 1 ELSE 0 END AS quota
         |           FROM alloc, extra),
         |ranked AS (SELECT p.lang, p.source, p.doc_id, q.quota,
         |             row_number() OVER (PARTITION BY p.lang, p.source
         |               ORDER BY CAST('0x' || substring(md5('strat:' || CAST(p.doc_id AS VARCHAR)), 1, 15) AS BIGINT),
         |                        p.doc_id) AS rk
         |           FROM pop p JOIN quotas q USING (lang, source)),
         |samp AS (SELECT doc_id FROM ranked WHERE rk <= quota),
         |st AS (SELECT s.doc_id, sc.n_tokens, md5('shard:' || CAST(s.doc_id AS VARCHAR)) AS h
         |       FROM samp s JOIN scrub sc USING (doc_id)),
         |csum AS (SELECT doc_id, n_tokens,
         |                sum(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |         FROM st)
         |SELECT CAST((cum - n_tokens) // ${SHARD_BUDGET} AS BIGINT) AS shard_id,
         |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM csum GROUP BY 1""".stripMargin,
    "x_pipeline_e2e" ->
      """WITH ok AS (
        |  SELECT doc_id, lang, text,
        |         len(regexp_extract_all(text, '\S+')) AS n_tokens
        |  FROM documents
        |  WHERE len(regexp_extract_all(text, '\S+')) >= 10
        |    AND CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE) / length(text) >= 0.5),
        |keep AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM ok GROUP BY md5(lower(regexp_replace(text, '\s+', ' ', 'g'))))
        |SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(SUM(1 + (greatest(n_tokens - 50, 0) + 24) // 25) AS BIGINT) AS total_windows
        |FROM ok JOIN keep USING (doc_id)
        |GROUP BY lang""".stripMargin,
    "x_bpe_token_count" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS ws_tokens,
        |       CAST(SUM(len(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+'))) AS BIGINT) AS bpe_tokens
        |FROM documents GROUP BY lang""".stripMargin,
    "x_bpe_pair_stats" ->
      """WITH pt AS (
        |  SELECT unnest(regexp_extract_all(text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+')) AS t
        |  FROM documents),
        |ch AS (SELECT regexp_extract_all(t, '.') AS c FROM pt WHERE len(t) >= 2),
        |p AS (SELECT unnest(list_transform(range(1, len(c)), i -> c[i] || c[i+1])) AS pair FROM ch),
        |cnt AS (SELECT pair, count(*) AS n_occurrences FROM p GROUP BY pair),
        |r AS (SELECT pair, CAST(n_occurrences AS BIGINT) AS n_occurrences,
        |             CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INTEGER) AS rnk
        |      FROM cnt)
        |SELECT pair, n_occurrences, rnk FROM r WHERE rnk <= 10""".stripMargin,
    "x_hash_sample" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(CASE WHEN CAST('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 10 = 0
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang""".stripMargin,
    "x_doc_windows" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS w
        |  FROM documents WHERE doc_id < 200),
        |win AS (
        |  SELECT doc_id, len(w) AS n,
        |         unnest(range(0, 1 + (greatest(len(w) - 50, 0) + 24) // 25)) AS i, w
        |  FROM tok WHERE len(w) > 0)
        |SELECT doc_id, CAST(i AS INTEGER) AS win_idx,
        |       CAST(len(w[i*25+1 : least(i*25+50, n)]) AS INTEGER) AS n_tokens,
        |       md5(array_to_string(w[i*25+1 : least(i*25+50, n)], ' ')) AS win_hash
        |FROM win""".stripMargin,
    "x_decontam" -> decontamOracleSql,
    // Bloom false positives die in the exact verify, so the pre-filtered
    // entry is output-identical to the exact one — SAME oracle (the
    // heavy-hitters batch/stream precedent).
    "x_decontam_bloom" -> decontamOracleSql,
    // Full replay of the span-level rewrite: benchmark 4-gram positions →
    // gaps-and-islands merge → anti-join the covered positions → ordered
    // re-join of surviving tokens; the md5 proves the rewritten text.
    "x_decontam_scrub" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS w FROM documents),
        |bench AS (
        |  SELECT DISTINCT unnest(list_transform(range(0, greatest(len(w) - 3, 0)),
        |           i -> md5(array_to_string(w[i+1 : i+4], ' ')))) AS g
        |  FROM tok WHERE doc_id < 10),
        |corpus AS (
        |  SELECT doc_id, unnest(range(0, greatest(len(w) - 3, 0))) AS pos,
        |         unnest(list_transform(range(0, greatest(len(w) - 3, 0)),
        |           i -> md5(array_to_string(w[i+1 : i+4], ' ')))) AS g
        |  FROM tok WHERE doc_id >= 100 AND doc_id < 400),
        |hit AS (SELECT c.doc_id, c.pos FROM corpus c JOIN bench USING (g)),
        |brk AS (SELECT doc_id, pos,
        |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
        |               THEN 1 ELSE 0 END AS brk
        |        FROM hit),
        |isl AS (SELECT doc_id, pos,
        |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |        FROM brk),
        |spans AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 3 AS span_end
        |          FROM isl GROUP BY doc_id, island),
        |cover AS (SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos FROM spans),
        |allpos AS (SELECT doc_id, unnest(range(0, len(w))) AS pos FROM tok
        |           WHERE doc_id >= 100 AND doc_id < 400),
        |keptpos AS (SELECT a.doc_id, a.pos FROM allpos a
        |            ANTI JOIN cover c ON a.doc_id = c.doc_id AND a.pos = c.pos),
        |kept AS (SELECT k.doc_id, array_agg(t.w[k.pos + 1] ORDER BY k.pos) AS kw
        |         FROM keptpos k JOIN tok t USING (doc_id) GROUP BY k.doc_id),
        |contam AS (SELECT DISTINCT doc_id FROM hit)
        |SELECT t.doc_id,
        |       CAST(len(t.w) AS INTEGER) AS n_tokens_before,
        |       CAST(COALESCE(len(k.kw), 0) AS INTEGER) AS n_tokens_after,
        |       md5(COALESCE(array_to_string(k.kw, ' '), '')) AS kept_hash
        |FROM tok t JOIN contam USING (doc_id) LEFT JOIN kept k USING (doc_id)""".stripMargin,
    "x_gopher_rules" ->
      """WITH f0 AS (
        |  SELECT lang,
        |         len(regexp_extract_all(lower(text), '\S+')) AS n_words,
        |         length(regexp_replace(lower(text), '\s+', '', 'g')) AS n_word_chars,
        |         len(regexp_extract_all(lower(text), '\S*\pL\S*')) AS n_alpha_words,
        |         (length(lower(text)) - length(replace(lower(text), '#', '')))
        |           + (length(lower(text)) - length(replace(lower(text), '...', ''))) // 3 AS n_sym,
        |         (CASE WHEN contains(' ' || lower(text) || ' ', ' the ') THEN 1 ELSE 0 END
        |        + CASE WHEN contains(' ' || lower(text) || ' ', ' a ') THEN 1 ELSE 0 END
        |        + CASE WHEN contains(' ' || lower(text) || ' ', ' of ') THEN 1 ELSE 0 END
        |        + CASE WHEN contains(' ' || lower(text) || ' ', ' and ') THEN 1 ELSE 0 END
        |        + CASE WHEN contains(' ' || lower(text) || ' ', ' to ') THEN 1 ELSE 0 END) AS n_stop
        |  FROM documents),
        |f AS (
        |  SELECT lang,
        |    (n_words < 10 OR n_words > 100000) AS f_words,
        |    (n_word_chars < n_words * 3 OR n_word_chars > n_words * 10) AS f_word_len,
        |    (n_alpha_words * 5 < n_words * 4) AS f_alpha,
        |    (n_sym * 10 > n_words) AS f_symbol,
        |    (n_stop < 2) AS f_stop
        |  FROM f0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN f_words THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_count,
        |  CAST(sum(CASE WHEN f_word_len THEN 1 ELSE 0 END) AS BIGINT) AS fail_word_len,
        |  CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
        |  CAST(sum(CASE WHEN f_symbol THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbol,
        |  CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop,
        |  CAST(sum(CASE WHEN NOT (f_words OR f_word_len OR f_alpha OR f_symbol OR f_stop)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM f GROUP BY lang""".stripMargin,
    "x_unicode_norm" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(length(nfc_normalize(text))) AS BIGINT) AS n_chars_nfc
        |FROM documents GROUP BY source""".stripMargin,
    "x_stratified_sample" ->
      """WITH docs AS (SELECT lang, source, doc_id FROM documents),
        |strata AS (SELECT lang, source, count(*) AS n FROM docs GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM strata),
        |alloc AS (SELECT lang, source, n,
        |            60 * n // n_tot AS base, 60 * n % n_tot AS rem
        |          FROM strata, tot),
        |extra AS (SELECT 60 - CAST(sum(base) AS BIGINT) AS extra FROM alloc),
        |quotas AS (SELECT lang, source,
        |             base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang, source)
        |                         <= extra THEN 1 ELSE 0 END AS quota
        |           FROM alloc, extra),
        |ranked AS (SELECT d.lang, d.source, d.doc_id, q.quota,
        |             row_number() OVER (PARTITION BY d.lang, d.source
        |               ORDER BY CAST('0x' || substring(md5('strat:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT),
        |                        d.doc_id) AS rk
        |           FROM docs d JOIN quotas q USING (lang, source))
        |SELECT lang, source, doc_id FROM ranked WHERE rk <= quota""".stripMargin,
    "x_keywords" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents WHERE doc_id < 100),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id < 100)
        |SELECT doc_id, term, tf, df, rnk FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, tf.term) AS INTEGER) AS rnk
        |  FROM tf JOIN df USING (term), n
        |  WHERE df.df * 10 < n.n_docs)
        |WHERE rnk <= 3""".stripMargin,
    "x_bm25_search" ->
      s"""WITH $bm25AggCtes
        |SELECT doc_id, score, rnk FROM (
        |  SELECT doc_id, score,
        |         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rnk
        |  FROM agg)
        |WHERE rnk <= 10""".stripMargin,
    // RRF: both ranker CTE chains verbatim (bm25 `agg`, bigram `docsc`),
    // pooled to top-20 each, fused as ONE fixed-order two-term sum.
    "x_rrf_fusion" ->
      s"""WITH $bm25AggCtes,
        |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS r_lex
        |        FROM agg QUALIFY r_lex <= 20),
        |ch AS (
        |  SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 2),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, length(t)),
        |                i -> substring(t, CAST(i AS INTEGER), 2))) AS bg
        |  FROM ch),
        |model AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM model),
        |docsc AS (
        |  SELECT doc_id,
        |         CAST(CAST(sum(cnt) AS BIGINT) * 1000000 // (count(*) * (SELECT n_total FROM tot)) AS BIGINT) AS typicality_ppm
        |  FROM bg JOIN model USING (bg)
        |  GROUP BY doc_id),
        |qual AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY typicality_ppm DESC, doc_id) AS INTEGER) AS r_qual
        |         FROM docsc QUALIFY r_qual <= 20),
        |fused AS (
        |  SELECT doc_id,
        |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_lex), CAST(0.0 AS DOUBLE))
        |           + COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_qual), CAST(0.0 AS DOUBLE)) AS rrf,
        |         r_lex, r_qual
        |  FROM lex FULL OUTER JOIN qual USING (doc_id))
        |SELECT doc_id, rrf, r_lex, r_qual, rnk FROM (
        |  SELECT doc_id, rrf, r_lex, r_qual,
        |         CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rnk
        |  FROM fused)
        |WHERE rnk <= 10""".stripMargin,
    "x_token_count" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang""".stripMargin,
    "x_quality_score" ->
      """SELECT doc_id,
        |       CAST(length(text) AS INTEGER) AS n_chars_txt,
        |       CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
        |       CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
        |       CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // length(' the ')
        |          + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ''))) // length(' a ') AS DOUBLE)
        |         / len(regexp_extract_all(text, '\S+')) AS stopword_ratio,
        |       CASE WHEN len(regexp_extract_all(text, '\S+')) < 10 THEN 'too_short'
        |            WHEN CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE) / length(text) < 0.5 THEN 'low_alpha'
        |            ELSE 'ok' END AS quality
        |FROM documents WHERE doc_id < 200""".stripMargin,
    "x_lang_id" ->
      """WITH c AS (
        |  SELECT lang,
        |    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' the ', ''))) // length(' the ') AS c_en,
        |    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' der ', ''))) // length(' der ') AS c_de,
        |    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' le ', ''))) // length(' le ') AS c_fr,
        |    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' el ', ''))) // length(' el ') AS c_es,
        |    (length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '的', ''))) // length('的') AS c_zh
        |  FROM documents)
        |SELECT lang,
        |       CASE WHEN greatest(c_en, c_de, c_fr, c_es, c_zh) = 0 THEN 'und'
        |            WHEN c_en = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'en'
        |            WHEN c_de = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'de'
        |            WHEN c_fr = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'fr'
        |            WHEN c_es = greatest(c_en, c_de, c_fr, c_es, c_zh) THEN 'es'
        |            ELSE 'zh' END AS predicted,
        |       count(*) AS n
        |FROM c GROUP BY 1, 2""".stripMargin,
    "x_bpe_train_merges" -> bpeTrainOracleSql(3),
    "x_bpe_apply" -> bpeApplyOracleSql(3),
    // Integral end to end (ppb weights via integer div), so the hash pins
    // training, scoring, AND the argmax. DuckDB's sum(BIGINT) widens to
    // HUGEINT — harmless here because score only feeds ORDER BY and every
    // OUTPUT column is BIGINT/VARCHAR in both engines.
    "x_lang_classifier" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '\S+') AS toks
        |  FROM documents),
        |train AS (SELECT lang, unnest(toks) AS tok FROM docs WHERE doc_id % 5 <> 0),
        |counts AS (SELECT lang, tok, count(*) AS c FROM train GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT tok) AS vocab FROM counts),
        |totals AS (
        |  SELECT lang, CAST(sum(c) + (SELECT vocab FROM v) AS BIGINT) AS denom
        |  FROM counts GROUP BY 1),
        |weights AS (
        |  SELECT c.lang AS cand, c.tok,
        |         CAST((c.c + 1) * 1000000000 // t.denom AS BIGINT) AS w_ppb
        |  FROM counts c JOIN totals t USING (lang)),
        |test_toks AS (
        |  SELECT doc_id, tok, count(*) AS n
        |  FROM (SELECT doc_id, unnest(toks) AS tok FROM docs WHERE doc_id % 5 = 0)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT tt.doc_id, t.lang AS cand,
        |         sum(tt.n * coalesce(w.w_ppb, CAST(1000000000 // t.denom AS BIGINT))) AS score
        |  FROM test_toks tt
        |  CROSS JOIN totals t
        |  LEFT JOIN weights w ON w.cand = t.lang AND w.tok = tt.tok
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT doc_id, cand AS predicted FROM (
        |    SELECT doc_id, cand,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rnk
        |    FROM scored)
        |  WHERE rnk = 1)
        |SELECT d.lang AS actual, p.predicted, count(*) AS n_docs
        |FROM docs d JOIN pred p USING (doc_id)
        |WHERE d.doc_id % 5 = 0
        |GROUP BY 1, 2""".stripMargin,
    "x_vocab_coverage" ->
      """WITH tk AS (
        |  SELECT lang, unnest(regexp_extract_all(lower(text), '\S+')) AS tok FROM documents),
        |cnt AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok),
        |vocab AS (SELECT tok, 1 AS in_vocab FROM cnt ORDER BY n DESC, tok LIMIT 16)
        |SELECT lang, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       CAST(CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |            // count(*) AS BIGINT) AS oov_ppm
        |FROM tk LEFT JOIN vocab v USING (tok)
        |GROUP BY lang""".stripMargin,
    "x_lm_bigram_score" ->
      """WITH ch AS (
        |  SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 2),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, length(t)),
        |                i -> substring(t, CAST(i AS INTEGER), 2))) AS bg
        |  FROM ch),
        |model AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM model)
        |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(cnt) AS BIGINT) AS freq_sum,
        |       CAST(CAST(sum(cnt) AS BIGINT) * 1000000 // (count(*) * (SELECT n_total FROM tot)) AS BIGINT) AS typicality_ppm
        |FROM bg JOIN model USING (bg)
        |GROUP BY doc_id""".stripMargin,
    "x_quality_gate_cdf" ->
      """WITH d AS (
        |  SELECT lang, CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |h AS (SELECT lang, n_tokens, count(*) AS cnt FROM d GROUP BY 1, 2),
        |c AS (SELECT lang, n_tokens,
        |        sum(cnt) OVER (PARTITION BY lang ORDER BY n_tokens
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        sum(cnt) OVER (PARTITION BY lang) AS n_lang
        |      FROM h),
        |t AS (SELECT lang, min(n_tokens) AS thr FROM c WHERE cum * 10 >= n_lang GROUP BY lang)
        |SELECT d.lang, t.thr, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN d.n_tokens > t.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(sum(CASE WHEN d.n_tokens > t.thr THEN d.n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_kept
        |FROM d JOIN t USING (lang) GROUP BY 1, 2""".stripMargin,
    "x_fingerprint" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS n_unique
        |FROM documents GROUP BY source""".stripMargin
  )
}
