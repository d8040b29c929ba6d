package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Tables._
import TextAnalysis.{tokensCol, tokenCountCol}

/** Deduplication operators for training-data pipelines: exact (hash groupBy),
  * MinHash+LSH (shingle → minhash → band → bucket-join), SimHash (hamming
  * banding), and exact n-gram Jaccard verification.
  *
  * Scale shapes (the part that must survive 100 TB):
  *  - exact dedup = one hash-partitioned aggregate on the fingerprint — the
  *    only full-data shuffle, map-side partially aggregated;
  *  - MinHash: the shingle explode is shuffled by (doc, shingle) only for the
  *    per-doc min-aggregation (map-side combine keeps it near-linear); the
  *    candidate join shuffles tiny (band, hash) keys, never document text;
  *  - banding keeps the pair space near-linear instead of O(n^2) — the
  *    brute-force pair join exists only as the small-n verification oracle.
  */
object Dedup {

  /** Distinct word-bigram shingles from a MATERIALIZED token-array column.
    * NB two traps: Spark's `sequence(a,b)` descends when a > b (hence the
    * empty-array guard), and passing a computed expression (e.g.
    * `regexp_extract_all`) as `w` lets the optimizer inline it into the
    * lambda — re-running the regex for every element_at, turning O(tokens)
    * into O(tokens^2) per document. Tokenize into its own projection first
    * (see [[shingledDocs]]). */
  def bigramsFromTokens(w: Column): Column =
    when(size(w) < 2, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(w) - 2),
        i => concat(element_at(w, i + 1), lit(" "), element_at(w, i + 2)))))

  /** (doc_id, sh: array<string>) with tokenization materialized in a separate
    * projection so the regex runs once per document. */
  private def shingledDocs(s: SparkSession, d: String, maxDocId: Option[Int]): DataFrame = {
    val base = maxDocId.foldLeft(documents(s, d))((df, m) => df.filter(col("doc_id") < m))
    base.select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .select(col("doc_id"), bigramsFromTokens(col("toks")).as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** Exact dedup stats per language: hash-groupBy on the full text hash. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))

  /** Normalization-keyed exact dedup ("fuzzy-exact"): hash-groupBy on a
    * CANONICALIZED text key — lowercase + whitespace-collapse + trim —
    * instead of the raw bytes. Web-scale corpora are full of byte-level
    * variants of identical content (case folds, double spaces, trailing
    * blanks) that raw exact dedup misses and near-dup sketches overkill;
    * production pipelines run exactly this pass between the two. The
    * demonstration corpus is documents plus deterministic byte-variant
    * CLONES of a subset (doc_id%7==3 re-issued upper-cased at id+10⁶,
    * doc_id%7==5 re-issued double-spaced at id+2·10⁶ — pure doc_id
    * arithmetic the oracle restates), so every clone is raw-unique but
    * norm-identical to its source: n_variant_groups equals the clone count
    * per language by construction, a provable property, not luck. At
    * 100 TB the normalization is one scan-speed regex pass fused into the
    * same stage as the hash — the dedup itself stays the one hash-shuffle
    * of [[dedupExact]]; production materializes the normalized key column
    * once at ingest. */
  def dedupNormalized(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    // Case folding is ASCII-only `translate`, on BOTH the planted clones
    // and the canonical key, deliberately: the invariant "every clone
    // folds back under the normalization" must not hinge on a Unicode
    // case ROUND-TRIP (upper('ß')='SS' lowers to 'ss' ≠ 'ß', 'İ' grows a
    // combining dot), and Spark (JDK) vs DuckDB (utf8proc) need not agree
    // on such mappings. translate over [a-z] is engine- and
    // locale-independent for any corpus content; non-ASCII letters pass
    // through both transforms untouched, so the theorem holds even if the
    // corpus gains them.
    val asciiUpper = translate(col("text"),
      "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ")
    val caseClones = base.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id") + 1000000L, col("lang"), asciiUpper.as("text"))
    val spaceClones = base.filter(col("doc_id") % 7 === 5)
      .select(col("doc_id") + 2000000L, col("lang"),
        regexp_replace(col("text"), " ", "  ").as("text"))
    val perturbed = base.unionByName(caseClones.toDF("doc_id", "lang", "text"))
      .unionByName(spaceClones.toDF("doc_id", "lang", "text"))
    val asciiLower = translate(col("text"),
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")
    val normKey = md5(trim(regexp_replace(asciiLower, "\\s+", " ")))
    perturbed
      .select(col("lang"), md5(col("text")).as("rawh"), normKey.as("normh"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("rawh")).as("n_raw_unique"),
        countDistinct(col("normh")).as("n_norm_unique"),
        (countDistinct(col("rawh")) - countDistinct(col("normh")))
          .as("n_variant_groups"))
  }

  /** Exact dedup keep-list: the canonical survivor (min doc_id) per distinct
    * content hash — the materialized output a pipeline actually consumes. */
  def dedupKeepList(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
      .select(col("keep_id"))

  private val K = 32 // minhash permutations
  private val BANDS = 8 // 4 rows per band
  /** Modulus of the permutation family: the Mersenne prime 2^31-1. With a
    * 28-bit base hash, `a*h + b` stays under 2^59 — exact in plain 64-bit
    * integer arithmetic in ANY engine (no 128-bit mul, no decimal path). */
  private val MH_P = 2147483647L

  private def splitmix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The K (a, b) pairs of the Kirsch–Mitzenmacher permutation family
    * h_i = (a_i*h + b_i) mod P — fixed pseudo-random constants (splitmix of
    * the index), so the whole sketch is a deterministic function of the data
    * that any SQL engine with md5 + hex parsing can replicate bit-for-bit.
    * (The xxhash64 seeding this replaced was Spark-only, which made the
    * sketch unverifiable against the DuckDB oracle.) */
  private[ops] val minhashParams: IndexedSeq[(Long, Long)] = (0 until K).map { i =>
    (java.lang.Long.remainderUnsigned(splitmix(2L * i), MH_P - 1) + 1,
      java.lang.Long.remainderUnsigned(splitmix(2L * i + 1), MH_P))
  }

  /** 28-bit shingle hash: 7 hex chars of md5. Cross-engine contract: DuckDB
    * side is `CAST('0x' || substring(md5(sh), 1, 7) AS BIGINT)`. */
  private def baseHash(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** Per-document K minhash values as an array column. One md5 per shingle,
    * then K exact integer permutations `(a_i*h + b_i) mod P` — one pass over
    * exploded shingles computes all K mins (map-side combined). */
  def minhashSignatures(s: SparkSession, d: String, maxDocId: Option[Int] = None): DataFrame =
    minhashSignaturesOf(
      maxDocId.foldLeft(documents(s, d))((df, m) => df.filter(col("doc_id") < m)))

  /** [[minhashSignatures]] over an arbitrary documents frame — the seam the
    * incremental pipeline uses to sketch a DELTA batch on its own
    * (IncrementalDedupSpec drives the composition). */
  private[graft] def minhashSignaturesOf(base: DataFrame): DataFrame = {
    // Explode with the shingle expression INLINE in the generator: exploding
    // a pre-projected array column routes rows through a ~6x slower
    // interpreted projection path (measured 10.8s vs 1.8s on 5k docs).
    // array_distinct is skipped on purpose: min(hash) over a multiset equals
    // min(hash) over its set.
    // Repartition first: shingle+minhash is O(K·len) FLOPs per ROW, so
    // bytes-proportional splits under-parallelize it (one staged micro-batch
    // file, or a few-MB documents table, is 1-2 splits). Keyed by doc_id so
    // placement is deterministic under streaming replay; the shuffle ships
    // only (id, text) once and the K-way mins still combine map-side.
    // Width comes from spark.sql.shuffle.partitions (the session default for
    // repartition-by-column), NOT a hard-coded defaultParallelism: batch
    // sessions set it to the core count (same spread as before), while the
    // bounded stream runners right-size it to their backlog on the run's
    // cloned session (StreamTuning.runBounded) — a 32-way spread of a ~200-row
    // micro-batch paid 32 task deserializes of this stage's WIDE aggregate
    // (K min-expressions) per batch, measured as executorDeserializeTime
    // dominating the x_stream_dedup_* entries' task time.
    val exploded = base
      .repartition(col("doc_id"))
      .select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat(element_at(col("toks"), i + 1), lit(" "), element_at(col("toks"), i + 2)))))
          .as("sh"))
      .select(col("doc_id"), baseHash(col("sh")).as("h"))
    val mins = minhashParams.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("h") + lit(b)) % MH_P).as(s"mh_$i")
    }
    exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until K).map(i => col(s"mh_$i")): _*).as("mh"))
  }

  /** MinHash-LSH near-duplicate pairs: band the signature (8 bands x 4 rows),
    * bucket-join on (band, bandHash), then estimate Jaccard as the fraction
    * of agreeing minhashes; emit pairs with estimated similarity >= 0.5. */
  /** Band explode over a signature relation — shared by the self-join sketch
    * and the incremental delta-vs-index variant. Band key = a fixed-width
    * 60-bit fingerprint (md5 of the slice's comma-joined rendering, first 15
    * hex digits as a BIGINT — the engine-portable hash contract, see
    * [[baseHash]]): an 8-byte shuffle key instead of a ~40-byte string in
    * the widest exchange. Collisions are ~n²/2⁶⁰ — nonexistent in practice,
    * and any would only ADD a candidate pair that the est-Jaccard filter
    * re-checks anyway. */
  private[graft] def mhBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("mh"),
      posexplode(array((0 until BANDS).map { b =>
        conv(substring(md5(
          concat_ws(",", (0 until 4).map(r => element_at(col("mh"), b * 4 + r + 1)): _*)
        ), 1, 15), 16, 10).cast("long")
      }: _*)).as(Seq("band_idx", "band_hash")))

  /** Estimated Jaccard from two signature array columns already in hand. */
  private[graft] def mhEstJaccard: Column =
    size(filter(zip_with(col("mh_a"), col("mh_b"), (x, y) => (x === y).cast("int")),
      v => v === 1)).cast("double") / K

  /** Full-corpus MinHash-LSH pair set cached per (session, directory) via
    * the shared [[RelCache]] (stopped sessions swept, live sessions
    * bounded to two scale dirs LRU, `clearDedupCaches` hook) — the same
    * one-artifact-many-audits shape as the SimHash cache below:
    * x_dedup_minhash and the lexical arm of x_dedup_ensemble read the
    * SAME relation. Subset (maxDocId) calls stay uncached. */
  def dedupMinhashLsh(s: SparkSession, d: String, maxDocId: Option[Int] = None): DataFrame =
    maxDocId match {
      case Some(m) => dedupMinhashLshOver(documents(s, d).filter(col("doc_id") < m))
      case None =>
        RelCache.shared(s, d, "dedup/minhashPairs")(dedupMinhashLshOver(documents(s, d)))
    }

  /** [[dedupMinhashLsh]] over an arbitrary documents frame — lets the
    * incremental pipeline self-dedup a DELTA batch (its documented
    * intra-batch blind spot) with the exact same sketch. */
  private[ops] def dedupMinhashLshOver(base: DataFrame): DataFrame =
    lshSelfPairs(mhBands(minhashSignaturesOf(base)))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The banded self-join kernel of [[dedupMinhashLsh]] over an
    * already-banded signature relation — shared with the streaming
    * incremental pipeline's per-micro-batch self-dedup
    * ([[graft.streaming.DedupStream]]). Unordered output. */
  private[graft] def lshSelfPairs(bands: DataFrame): DataFrame = {
    // One linear plan: the signature array rides along through the band
    // explode so the candidate join already has both signatures in hand — no
    // re-join back to the signature relation (which would recompute the
    // shingle aggregation; caching is useless in a lazily-returned plan), and
    // the self-join's two sides reuse one shuffle exchange.
    val est = mhEstJaccard
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.mh").as("mh_a"), col("b.mh").as("mh_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"), est.as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** Cross pairs between a (small) incoming band relation and a (large)
    * index band relation — the probe kernel of the STREAMING incremental
    * pipeline, pair-level where [[incrementalMatches]] aggregates per doc.
    * The incoming side is broadcast: at production scale the delta batch is
    * orders of magnitude smaller than the persisted index, so the probe is
    * ONE scan of the index with a hash lookup per band row — the index is
    * never shuffled (and the candidate distinct shuffles only matched
    * pairs). The two sides are disjoint by construction (a batch probes the
    * index BEFORE its own signatures are appended), so each pair surfaces in
    * exactly one orientation; doc_a/doc_b are normalized min/max to match
    * the self-join's `a.doc_id < b.doc_id` convention. */
  private[graft] def lshCrossPairs(incomingBands: DataFrame, indexBands: DataFrame): DataFrame =
    indexBands.as("b")
      .join(broadcast(incomingBands.as("a")),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("in_id"), col("b.doc_id").as("ix_id"),
        col("a.mh").as("mh_a"), col("b.mh").as("mh_b"))
      .distinct()
      .select(least(col("in_id"), col("ix_id")).as("doc_a"),
        greatest(col("in_id"), col("ix_id")).as("doc_b"),
        mhEstJaccard.as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)

  /** Incremental (delta-vs-index) near-dup dedup — the shape a production
    * pipeline actually runs day to day: a new batch of documents is checked
    * against the EXISTING corpus without re-deduping the corpus itself.
    * Here the split is doc_id parity (odd = incoming delta, even = existing
    * index); in production the existing side's signatures are a persisted
    * table maintained across runs, so the per-run cost is
    * O(delta signatures + bucket join), never O(corpus). The join is
    * banded exactly like [[dedupMinhashLsh]] — incoming bands probe existing
    * bands on the 8-byte (band, fingerprint) key, so the delta never meets
    * the index outside matching buckets. Output: each incoming doc that
    * near-dups the index, its canonical match (min existing doc_id), and
    * how many index docs it matched.
    *
    * INDEX-FRESHNESS CONTRACT (what this operator does and does NOT find —
    * spec-proven by IncrementalDedupSpec):
    *  - delta-vs-index pairs: FOUND — the probe's whole job.
    *  - delta-vs-delta pairs (two docs of the SAME batch near-duping each
    *    other but nothing in the index): NOT found. The probe is
    *    asymmetric by design; the batch must self-dedup with the sketch
    *    self-join ([[dedupMinhashLsh]] over the delta alone — O(delta²
    *    within buckets), cheap at batch size) before or alongside the
    *    probe.
    *  - index-vs-index pairs: ASSUMED handled when the index was built —
    *    the probe never re-examines the corpus.
    *  - index lag: matches are only as fresh as the persisted signature
    *    snapshot; documents ingested after it are invisible as match
    *    targets. The operational rule that keeps the union exact: append
    *    each batch's signatures to the index only AFTER probing, so
    *    batches are totally ordered — every cross-batch pair is found
    *    when the LATER batch probes, and intra-batch pairs belong to the
    *    batch's own self-dedup. Probing two batches concurrently against
    *    the same snapshot loses their cross-pairs. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val bands = mhBands(minhashSignatures(s, d))
    incrementalMatches(
      bands.filter(col("doc_id") % 2 === 1),
      bands.filter(col("doc_id") % 2 === 0))
  }

  /** The probe kernel of [[dedupIncremental]], split out so the existing
    * side can come from a PERSISTED signature index (signatures written
    * once, `mhBands`-exploded at probe time — the parquet roundtrip is
    * spec-proven lossless) instead of being recomputed with the delta. */
  private[ops] def incrementalMatches(incoming: DataFrame, existing: DataFrame): DataFrame =
    incoming.as("a")
      .join(existing.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("match_doc"),
        col("a.mh").as("mh_a"), col("b.mh").as("mh_b"))
      .distinct()
      .filter(mhEstJaccard >= 0.5)
      .groupBy(col("doc_id"))
      .agg(min(col("match_doc")).as("match_id"), count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))

  /** Catalog face of [[graft.streaming.DedupStream]] — the incremental
    * pipeline run as a REAL Structured Streaming query. Stages the documents
    * table as three parquet files (doc_id mod 3, interleaved so every batch
    * both self-dedups and probes non-trivially), drains them one file per
    * micro-batch under `Trigger.AvailableNow`, and returns the accumulated
    * pair sink. By the parity theorem on [[graft.streaming.DedupStream]]
    * the union of self-pairs and probe-pairs equals [[dedupMinhashLsh]]'s
    * one-shot pair set no matter how the trigger slices the backlog, so the
    * DuckDB oracle is the SAME CTE pile as `x_dedup_minhash` — the oracle
    * checks the theorem, not just the rows. */
  def dedupStreamIncremental(s: SparkSession, d: String): DataFrame = {
    val work = graft.ops.Scratch.dir("graft_stream_dedup")
    val stage = s"$work/stage"
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    (0 until 3).foreach { b =>
      docs.filter(col("doc_id") % 3 === b)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    graft.streaming.DedupStream.runIncremental(s, stage, work)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The maintenance lifecycle of the streaming sink (catalog
    * `x_stream_dedup_compacted`): drain half the backlog, STOP, compact
    * the signature index at the committed watermark and prune the
    * already-consumed match partitions, then resume the stream over the
    * rest — the stop-compact-restart window every long-running deployment
    * actually operates. Compaction folds partitions without changing
    * index content, so the resumed batches probe exactly the same
    * signature rows and the final match union still tiles the one-shot
    * batch pair set: the oracle is the SAME CTE pile as `x_dedup_minhash`
    * — the parity theorem, now asserted ACROSS a compaction boundary.
    * (The pruned match partitions are re-derived for the final result by
    * the self-join restricted to the pruned batches' pairs — retention
    * assumes downstream consumed them, and this entry IS that consumer.) */
  def dedupStreamCompacted(s: SparkSession, d: String): DataFrame = {
    val work = graft.ops.Scratch.dir("graft_stream_compact")
    val stage = s"$work/stage"
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    // First backlog: two files -> committed micro-batches 0 and 1.
    (0 until 2).foreach { b =>
      docs.filter(col("doc_id") % 4 === b)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    val firstHalf = graft.streaming.DedupStream.runIncremental(s, stage, work)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .collect() // consume the early matches BEFORE retention drops them
    // Maintenance window: the stream is stopped; batch 1 is committed.
    graft.streaming.DedupStream.compactIndex(s, s"$work/sig_index", watermark = 1L)
    graft.streaming.DedupStream.pruneMatches(s, s"$work/matches", keepFrom = 2L)
    // Second backlog: the checkpoint resumes at batch 2; batches 2 and 3
    // probe the COMPACTED index.
    (2 until 4).foreach { b =>
      docs.filter(col("doc_id") % 4 === b)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    val lateMatches = graft.streaming.DedupStream.runIncremental(s, stage, work)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    import s.implicits._
    lateMatches
      .unionByName(firstHalf.toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toDF("doc_a", "doc_b", "est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The OBJECT-STORE maintenance lifecycle (catalog
    * `x_stream_dedup_manifest`): the exact stop-compact-resume window of
    * [[dedupStreamCompacted]], but the fold publishes through the
    * MANIFEST-POINTER commit ([[graft.streaming.SinkRetention
    * .compactIndexManifest]]) — an atomic single-file creation instead of
    * a directory rename, the variant a deployment runs when the sink
    * lives on S3-class storage with no atomic rename. The resumed batches
    * resolve the index through `SinkRetention.readLive` (the probe's
    * standing read seam), picking the folded generation up from the
    * manifest; content is unchanged by the fold, so the final match union
    * still tiles the one-shot pair set and the oracle is STILL the
    * `x_dedup_minhash` CTE pile — the parity theorem asserted across a
    * manifest-committed compaction boundary. */
  def dedupStreamManifest(s: SparkSession, d: String): DataFrame = {
    val work = graft.ops.Scratch.dir("graft_stream_manifest")
    val stage = s"$work/stage"
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    (0 until 2).foreach { b =>
      docs.filter(col("doc_id") % 4 === b)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    val firstHalf = graft.streaming.DedupStream.runIncremental(s, stage, work)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .collect() // consume the early matches BEFORE retention drops them
    // Maintenance window: stream stopped, batch 1 committed — manifest fold.
    graft.streaming.DedupStream.compactIndexManifest(s, s"$work/sig_index", watermark = 1L)
    graft.streaming.DedupStream.pruneMatches(s, s"$work/matches", keepFrom = 2L)
    (2 until 4).foreach { b =>
      docs.filter(col("doc_id") % 4 === b)
        .coalesce(1).write.mode("append").parquet(stage)
    }
    val lateMatches = graft.streaming.DedupStream.runIncremental(s, stage, work)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    import s.implicits._
    lateMatches
      .unionByName(firstHalf.toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toDF("doc_a", "doc_b", "est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The AMORTIZED maintenance schedule (catalog `x_stream_dedup_tiered`):
    * the threshold-gated fold under the oracle, end-to-end. Folding every
    * window rewrites the whole index per window — quadratic in sink
    * lifetime — so production runs
    * [[graft.streaming.DedupStream.compactIndexIfNeeded]] with threshold K
    * and pays ~|index|/K bytes per window instead. This entry runs BOTH
    * branches of that gate between real micro-batches: a below-threshold
    * window that MUST leave the sink byte-untouched (2 foldable
    * partitions < K=3), then an at-threshold window that folds — and the
    * resumed batches probe the result of each. Parity theorem again: the
    * final pair sink must equal the one-shot set, so the oracle is STILL
    * the `x_dedup_minhash` CTE pile, now asserted across a no-op window
    * AND a fold window. */
  def dedupStreamTiered(s: SparkSession, d: String): DataFrame = {
    val work = graft.ops.Scratch.dir("graft_stream_tiered")
    val stage = s"$work/stage"
    val idx = s"$work/sig_index"
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    // Backlog 1: micro-batches 0 and 1 commit.
    (0 until 2).foreach { b =>
      docs.filter(col("doc_id") % 4 === b).coalesce(1).write.mode("append").parquet(stage)
    }
    graft.streaming.DedupStream.runIncremental(s, stage, work).count()
    // Maintenance window A — BELOW threshold: 2 foldable partitions < 3.
    val ranA = graft.streaming.DedupStream.compactIndexIfNeeded(s, idx,
      watermark = 1L, minFolded = 3)
    require(!ranA, "2 foldable partitions must not trigger a minFolded=3 fold")
    // Backlog 2: batch 2 commits, probing the untouched index.
    docs.filter(col("doc_id") % 4 === 2).coalesce(1).write.mode("append").parquet(stage)
    graft.streaming.DedupStream.runIncremental(s, stage, work).count()
    // Maintenance window B — AT threshold: 3 foldable partitions, folds.
    val ranB = graft.streaming.DedupStream.compactIndexIfNeeded(s, idx,
      watermark = 2L, minFolded = 3)
    require(ranB, "3 foldable partitions must trigger a minFolded=3 fold")
    // Backlog 3: batch 3 probes the folded index; the sink (never pruned
    // here) accumulates every batch's matches.
    docs.filter(col("doc_id") % 4 === 3).coalesce(1).write.mode("append").parquet(stage)
    graft.streaming.DedupStream.runIncremental(s, stage, work)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val SIMHASH_BITS = 60
  private val SIMHASH_BANDS = 6 // 10 bits each
  /** Pigeonhole-complete threshold: hamming <= BANDS-1 guarantees at least
    * one band matches exactly, so banding loses nothing. */
  private val SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1
  /** Wide-family defaults: 2 words = 120 signature bits, 8 bands x 15 bits
    * -> 32768 buckets/band (32x the 60-bit default's 1024), recall-complete
    * for hamming <= 7. See [[simhashBandedPairs]] for the sizing rule. */
  private[ops] val SIMHASH_WIDE_WORDS = 2
  private[ops] val SIMHASH_WIDE_BAND_BITS = 15
  private[ops] val SIMHASH_WIDE_MAX_HAMMING = 7

  /** 60-bit SimHash per document: hash each token (60 md5 bits — replicable
    * in any engine, see [[baseHash]] contract), sum +/-1 per bit position
    * over all tokens, take the sign bit vector. 60 bits, not 32: on
    * ~50-token documents a 32-bit signature put random pairs within hamming
    * 4 at ~1.6% (731 false candidates per 7 true on the audit sample); at
    * 60 bits the same truth set sits at hamming <= 5 with ~11 false —
    * measured precision 0.39 at recall 1.0.
    *
    * Computed by the native `SimhashBits` expression: one codegen'd pass
    * per DOCUMENT over its token array — the signature relation is
    * produced at scan speed with no Generate, no 60-column aggregate, and
    * NO shuffle (the explode + groupBy formulation it replaced multiplied
    * the row count by tokens-per-doc before aggregating it back down; kept
    * as [[simhashSignaturesViaExplode]] and spec-pinned row-identical).
    * The `size(toks) > 0` filter preserves the explode semantics exactly:
    * token-less documents produce no signature row. */
  def simhashSignatures(s: SparkSession, d: String, maxDocId: Option[Int] = None): DataFrame = {
    val base = maxDocId.foldLeft(documents(s, d))((df, m) => df.filter(col("doc_id") < m))
    base.select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        org.apache.spark.sql.graftbridge.simhashBits(col("toks")).as("simhash"))
  }

  /** The explode + 60-column-aggregate formulation [[simhashSignatures]]
    * replaced — retained as the independent reference implementation its
    * parity spec pins the native expression against. */
  private[ops] def simhashSignaturesViaExplode(
      s: SparkSession, d: String, maxDocId: Option[Int] = None): DataFrame = {
    val base = maxDocId.foldLeft(documents(s, d))((df, m) => df.filter(col("doc_id") < m))
    val toks = base
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("tok"))
      .select(col("doc_id"), conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    val bitSums = (0 until SIMHASH_BITS).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$i")
    }
    val agg = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until SIMHASH_BITS).map { i =>
      when(col(s"s_$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-duplicate candidates: band the 60-bit signature into 6
    * exact-match 10-bit slices (any pair within hamming BANDS-1 must agree
    * on at least one band — pigeonhole, no candidates lost), then verify
    * with bit_count(xor) <= 5. The band space is the parameterized
    * [[simhashBandedPairs]] kernel at its 60-bit oracled default; at
    * corpora past ~10^6 docs use [[dedupSimhashWide]], whose wider bands
    * keep the candidate volume linear (the sizing rule lives on the
    * kernel). */
  def dedupSimhash(s: SparkSession, d: String, maxDocId: Option[Int] = None): DataFrame =
    (if (maxDocId.isEmpty) simhashPairsShared(s, d) else simhashPairs(s, d, maxDocId))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The unordered pair set behind [[dedupSimhash]] — also the edge source
    * for [[dedupClusters]], where a final sort would be wasted work. */
  private def simhashPairs(s: SparkSession, d: String, maxDocId: Option[Int] = None): DataFrame =
    simhashBandedPairs(
      simhashSignatures(s, d, maxDocId).withColumnRenamed("simhash", "w0"),
      words = 1, bandBits = SIMHASH_BITS / SIMHASH_BANDS, maxHamming = SIMHASH_MAX_HAMMING)

  /** Full-corpus [[simhashPairs]] cached per (session, directory): six
    * catalog entries — the pair dump, CC labels, the size histogram, the
    * cross-source matrix, soft weights, and the chunked-DML dedup — read
    * the SAME dup-pair relation. In production that relation is
    * materialized ONCE by the dedup pass and every downstream audit reads
    * the artifact (the [[graft.ops.Similarity]] ivfAssigned precedent);
    * recomputing the sketch per entry charges one corpus sketch per
    * question. Lifecycle via the shared [[RelCache]]. */
  private def simhashPairsShared(s: SparkSession, d: String): DataFrame =
    RelCache.shared(s, d, "dedup/simhashPairs")(simhashPairs(s, d))

  /** CC labels over [[simhashPairsShared]], cached per (session,
    * directory): four entries run union-find over the same pair graph —
    * the labels are the dedup pass's second persisted artifact.
    * ([[connectedComponents]] already persists the label RDD internally;
    * this cache keeps the four entries from re-RUNNING the loop.) */
  private def dupLabelsShared(s: SparkSession, d: String): DataFrame = {
    // Resolve the pair-cache dependency BEFORE entering the cache — a
    // nested RelCache.shared call inside computeIfAbsent is a recursive
    // same-map update (see the RelCache scaladoc).
    val pairs = simhashPairsShared(s, d)
    RelCache.shared(s, d, "dedup/dupLabels")(
      connectedComponents(pairs.select(col("doc_a"), col("doc_b"))))
  }

  /** Unpersist and forget the text-dedup family's cached relations for a
    * session — the explicit lifecycle hook, mirroring
    * [[Multimodal.clearFingerprintCache]]. Entries rebuild transparently
    * on next access. */
  def clearDedupCaches(s: SparkSession): Unit =
    RelCache.clear(s, "dedup/")

  /** The parameterized SimHash banding kernel over a word-column signature
    * relation `(doc_id, w0[, w1])` (each word 60 bits).
    *
    * THE SIZING RULE (the same law this repo measured twice on the
    * minhash/hyperplane LSH families — bits ~ log2(n)): each band is an
    * exact-match `bandBits`-bit slice, so expected bucket occupancy is
    * n / 2^bandBits and banded candidate volume grows as
    * bands * n^2 / 2^bandBits — QUADRATIC in corpus size for any FIXED
    * band width. Keeping candidates O(n) therefore needs
    * `bandBits ~ log2(n)`, while pigeonhole recall (any pair within
    * `maxHamming` must agree on >= 1 band) needs
    * `bands >= maxHamming + 1` — so the signature itself must widen to
    * `(maxHamming+1) * bandBits` bits as the corpus grows. 60 bits
    * (6x10, 1024 buckets/band) holds to ~10^5-10^6 docs; 120 bits (8x15,
    * 32768 buckets/band) to ~10^7; past that, grow `words` (the
    * `SimhashWide` expression carries up to 2 words per md5 — beyond 120
    * bits chain a second hash family). Both knobs are validated here so a
    * mis-sized call fails fast instead of silently losing recall.
    *
    * Bands never straddle words (bandBits must divide 60): band b covers
    * word b / bandsPerWord, bit offset (b % bandsPerWord) * bandBits. */
  /** Band relation (doc_id, w0[, w1], band_idx, band_val) of a word-column
    * signature relation, with the sizing-rule validation — the shared
    * front half of the self-join and cross-join banded kernels. */
  private def bandRelation(
      sigs: DataFrame, words: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    require(SIMHASH_BITS % bandBits == 0,
      s"bandBits must divide $SIMHASH_BITS so bands never straddle words, got $bandBits")
    val bandsPerWord = SIMHASH_BITS / bandBits
    require(words * bandsPerWord >= maxHamming + 1,
      s"recall incomplete: ${words * bandsPerWord} bands cannot pigeonhole hamming <= $maxHamming " +
        s"(need >= ${maxHamming + 1} bands — widen the signature or narrow the bands)")
    val mask = (1L << bandBits) - 1
    val bandExprs = for { w <- 0 until words; b <- 0 until bandsPerWord }
      yield shiftright(col(s"w$w"), b * bandBits).bitwiseAND(mask)
    val wordCols = (0 until words).map(w => col(s"w$w"))
    sigs.select(col("doc_id") +: wordCols :+
      posexplode(array(bandExprs: _*)).as(Seq("band_idx", "band_val")): _*)
  }

  private def bandedHamming(words: Int): Column =
    (0 until words)
      .map(w => bit_count(col(s"a.w$w").bitwiseXOR(col(s"b.w$w"))))
      .reduce(_ + _)

  private[ops] def simhashBandedPairs(
      sigs: DataFrame, words: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    val bands = bandRelation(sigs, words, bandBits, maxHamming)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bandedHamming(words).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-join face of the banded kernel — the day-2 shape for the
    * fingerprint modalities (SimHash text, image dHash, audio envelope):
    * an ARRIVING delta probes the persisted signature index instead of
    * self-joining the whole corpus. Same band relation, same pigeonhole
    * guarantee, but the join is delta-bands × index-bands, so the cost is
    * O(|delta| · bucket occupancy) — never a corpus self-join. Output
    * (doc_id [delta], match_id [index], hamming), hamming <= maxHamming.
    *
    * The lexical twin is [[lshCrossPairs]] (minhash band space); this one
    * takes the word-column signature relations the hamming families
    * produce. */
  private[ops] def simhashBandedCrossPairs(
      delta: DataFrame, index: DataFrame,
      words: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    val db = bandRelation(delta, words, bandBits, maxHamming)
    val ib = bandRelation(index, words, bandBits, maxHamming)
    db.as("a")
      .join(ib.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("match_id"),
        bandedHamming(words).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Wide-signature relation `(doc_id, w0, w1, ...)`: `words` independent
    * 60-bit SimHash words per document, one md5 per token feeding all
    * words (native `SimhashWide` expression — still one codegen'd pass at
    * scan speed, no explode, no shuffle). Word 0 is bit-identical to
    * [[simhashSignatures]]'s signature, spec-pinned. */
  def simhashWideSignatures(
      s: SparkSession, d: String, words: Int = SIMHASH_WIDE_WORDS): DataFrame = {
    val sig = org.apache.spark.sql.graftbridge.simhashWideBits(col("toks"), words)
    documents(s, d).select(col("doc_id"), tokensCol(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id") +:
        (0 until words).map(w => element_at(sig, w + 1).as(s"w$w")): _*)
  }

  /** The wide SimHash family end-to-end: 120-bit signatures banded as
    * 8 x 15 bits — 32768 buckets per band, 32x the 60-bit default's 1024,
    * so the banded candidate volume that grows quadratically under the
    * fixed 60-bit space stays linear ~32x further into the corpus (the
    * measured fix for the sf5 superlinear step). Recall-complete for
    * hamming <= 7 of 120 bits (~94% bit agreement — the same similarity
    * regime as hamming <= 5 of 60). */
  def dedupSimhashWide(s: SparkSession, d: String): DataFrame =
    simhashBandedPairs(simhashWideSignatures(s, d),
      SIMHASH_WIDE_WORDS, SIMHASH_WIDE_BAND_BITS, SIMHASH_WIDE_MAX_HAMMING)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Near-dup clustering: connected components over the SimHash pair graph,
    * materialized as the full-corpus assignment table a dedup pipeline
    * actually consumes — (doc_id, cluster_id, is_canonical), cluster_id =
    * min doc_id reachable through near-dup edges, is_canonical = 1 for the
    * one survivor per cluster (and for every unpaired doc).
    *
    * Scale shape: iterative min-label propagation with one step of pointer
    * doubling (label := label(label)) per round — the Hash-to-Min family
    * (Rastogi et al., ICDE'13), converging in O(log diameter) rounds. Near-
    * dup components are band-join cliques or short chains, so this settles
    * in 2–3 rounds in practice. The label relation only holds doc_ids that
    * appear in SOME pair (vastly smaller than the corpus at 100 TB scale:
    * dup rate × corpus, not the corpus); each round is two shuffles on
    * (id, label) longs, and `localCheckpoint` truncates the lineage so the
    * plan does not grow with the iteration count. The full corpus is
    * touched exactly once, by the final left join that fills in singleton
    * clusters.
    *
    * Edge source: the 60-bit default family (oracled). Past ~10^6 docs
    * swap in the wide pair set — `simhashBandedPairs(
    * simhashWideSignatures(...), ...)` — the CC kernel is
    * source-agnostic and the quadratic risk lives entirely in the band
    * space (see the sizing rule on [[simhashBandedPairs]]). */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabelsShared(s, d)
    documents(s, d).select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", (col("doc_id") === col("cluster_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Keep-BEST canonical selection (catalog `x_dedup_keep_best`) — the
    * quality-aware alternative to [[dedupKeepList]]/[[dedupClusters]]'s
    * keep-first-id rule: production pipelines keep each near-dup
    * cluster's best member (RefinedWeb keeps the longest/highest-quality
    * page of a template family), not its lowest id. "Best" here is the
    * integral token count with min-doc_id tie-break (integral so the
    * argmax is float-order-free), computed as ONE max-struct aggregate
    * over the shared CC labels — no per-cluster window, no sort, fully
    * map-side combinable; output is multi-doc-cluster-sized (singletons
    * keep themselves trivially and are excluded). */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabelsShared(s, d).select(col("id").as("doc_id"), col("label"))
    val toks = documents(s, d)
      .select(col("doc_id"), tokenCountCol(col("text")).cast("long").as("n_tokens"))
    labels.join(toks, "doc_id")
      .groupBy(col("label").as("cluster_id"))
      .agg(
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("n_members"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("cluster_id"),
        (-col("best.neg_id")).as("keep_id"),
        col("best.n_tokens").as("kept_tokens"),
        col("n_members"), col("total_tokens"))
      .orderBy(col("cluster_id"))
  }

  /** SoftDeDup-style duplicate down-weighting (catalog
    * `x_dedup_soft_weights`): keep every near-duplicate and shrink its
    * training weight to 1/cluster_size instead of dropping all-but-one —
    * the soft alternative the hard-dedup entries' drop lists imply, which
    * preserves coverage while making each duplicated CONTENT unit
    * contribute one document's worth of gradient mass. Weights are
    * integer ppm (`1000000 div cluster_size`), so downstream
    * normalization is float-order-free (the mixTemperature discipline).
    * The audit reports, per source: documents, documents inside multi-doc
    * clusters, and raw vs ppm-weighted token mass — the deflation number
    * a pipeline owner reads before choosing soft vs hard dedup.
    *
    * At 100 TB: cluster labels are pair-bounded ([[connectedComponents]])
    * but still corpus-order when duplication is heavy, so the label and
    * size joins carry NO broadcast hints — they are plain equi-joins
    * (AQE still broadcasts them when they measure small) — and the
    * corpus is touched once at scan speed. */
  def dedupSoftWeights(s: SparkSession, d: String): DataFrame =
    softWeightsFromLabels(
      dupLabelsShared(s, d).select(col("id").as("doc_id"), col("label")),
      documents(s, d).select(col("doc_id"), col("source"),
        tokenCountCol(col("text")).cast("long").as("n_tokens")))

  /** [[dedupSoftWeights]] over an EXISTING pair relation `(doc_a, doc_b)`
    * and a `(doc_id, source, n_tokens)` corpus projection — the
    * composable form (same rationale as [[dedupCrossSourceOver]]: pairs
    * are materialized once, audits should not re-scan the corpus to
    * re-derive them). */
  def dedupSoftWeightsOver(pairs: DataFrame, docs: DataFrame): DataFrame =
    softWeightsFromLabels(
      connectedComponents(pairs).select(col("id").as("doc_id"), col("label")), docs)

  private def softWeightsFromLabels(labels: DataFrame, docs: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    docs
      .join(labels.join(sizes, "label"), Seq("doc_id"), "left")
      .withColumn("csize", coalesce(col("csize"), lit(1L)))
      .withColumn("weight_ppm", expr("1000000 div csize"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_in_dup_clusters"),
        sum(col("n_tokens")).as("raw_tokens"),
        // DECIMAL(38,0) accumulator: ppm-weighted token mass reaches
        // ~1e6 × corpus tokens, which blows past Long at the ~1e13-token
        // (100 TB) scale this audit is for — a plain Long sum would wrap
        // silently under non-ANSI Spark while the DuckDB twin widened to
        // HUGEINT. The per-row product is overflow-safe (n_tokens ≤ ~1e6,
        // ppm ≤ 1e6); only the SUM needs the wide type. The EMITTED column
        // is the ppm sum scaled back to whole tokens as BIGINT
        // (IntegralDivide on the decimal sum): bounded by raw token mass,
        // so Long-safe at any corpus size, and — unlike a raw
        // DECIMAL(38,0) column — bit-stable through every downstream hash
        // canonicalization (a decimal literal stringifies differently
        // across engines even when the value is equal).
        sum((col("n_tokens") * col("weight_ppm")).cast(DecimalType(38, 0)))
          .as("wsum_ppm"))
      .withColumn("weighted_tokens",
        expr("CAST(wsum_ppm div 1000000 AS BIGINT)"))
      .drop("wsum_ppm")
  }

  /** Near-dup cluster-size histogram (catalog `x_dup_cluster_sizes`):
    * how many clusters exist at each size, singletons included — the
    * duplication-profile figure every dedup paper reports (a long tail of
    * huge clusters means boilerplate; mass at size 2-3 means true
    * near-dups) and the number that predicts how much a drop-list will
    * remove: removable docs = Σ (csize-1)·n_clusters.
    *
    * At 100 TB: CC labels are pair-bounded, the histogram is two tiny
    * aggregates over them, and the singleton bucket is one anti-join of
    * the corpus keys against the labeled set — scan-bounded. */
  def dupClusterSizes(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabelsShared(s, d)
      .select(col("id").as("doc_id"), col("label"))
    val clustered = labels.groupBy(col("label")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
    val singles = documents(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("csize"), col("n_clusters"))
    clustered.unionByName(singles)
      .groupBy(col("csize")).agg(sum(col("n_clusters")).as("n_clusters"))
  }

  /** Cross-source duplication matrix (catalog `x_dedup_cross_source`):
    * which sources duplicate into which. Every near-dup pair is labeled
    * with its endpoints' sources, canonicalized (least, greatest) so the
    * matrix is one triangle, and counted — the provenance audit a
    * pipeline owner reads before dropping or down-weighting a source:
    * a source whose mass is mostly OFF-diagonal (pairs shared with other
    * sources) adds little beyond what the rest of the mix already
    * carries, while a heavy diagonal means internal boilerplate.
    *
    * At 100 TB: the pair relation is band-bounded (never all-pairs), and
    * the two source lookups are equi-joins on doc_id — the corpus-sized
    * side shuffles once each, the aggregate is (sources)² at most. */
  def dedupCrossSource(s: SparkSession, d: String): DataFrame =
    dedupCrossSourceOver(simhashPairsShared(s, d),
      documents(s, d).select(col("doc_id"), col("source")))

  /** [[dedupCrossSource]] over an EXISTING pair relation `(doc_a, doc_b)`
    * and a `(doc_id, source)` mapping — at 100 TB the pair relation is
    * materialized once (any sketch family produces the same shape) and
    * fed to every consumer; recomputing signatures per audit would scan
    * the corpus once per question. */
  def dedupCrossSourceOver(pairs: DataFrame, src: DataFrame): DataFrame =
    pairs
      .join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
      .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))

  /** Leakage-safe train/valid/test split (catalog `x_split_leakage_safe`):
    * near-duplicate documents must never straddle an evaluation boundary —
    * a test document whose near-dup twin sits in train leaks the answer
    * into training. The unit of assignment is therefore the near-dup
    * CLUSTER, not the document: every doc carries its connected-component
    * label (singletons label themselves), and the split is a deterministic
    * salted-hash residue of the CLUSTER id — 80/10/10 — so membership is a
    * pure function of content-cluster identity: reproducible run-to-run,
    * and leakage-free BY CONSTRUCTION (all docs of a cluster share the
    * hash; the spec additionally re-checks zero straddling pairs against
    * the raw candidate relation, plus residue-law proportions).
    *
    * At 100 TB: the label relation is pair-bounded (dup-rate × corpus,
    * not the corpus — see [[connectedComponents]]), the corpus is touched
    * once by the label join, and the split itself is a scan-speed hash.
    * Nothing quadratic: the pair source is the WIDE SimHash family (band
    * space sized for ~10⁷ docs), so this entry exercises the scale-path
    * configuration end-to-end through clustering — unlike [[dedupClusters]],
    * which keeps the 60-bit default that x_dedup_simhash oracles. The
    * DuckDB oracle replays the full chain — wide signatures → banding →
    * recursive-CTE transitive closure → md5 residue — exactly. */
  def leakageSafeSplit(s: SparkSession, d: String): DataFrame = {
    // Pair source: the WIDE SimHash family — the ≥10⁶-doc configuration
    // (see the sizing rule on [[simhashBandedPairs]]). The split is the
    // catalog's end-to-end consumer of the scale-path family: signatures →
    // wide banding → CC → split, nothing superlinear anywhere.
    //
    // Shared through RelCache (r19): building this relation RUNS the
    // connected-components loop eagerly (iterative jobs at call time), and
    // it has two catalog consumers — the split entry itself and
    // x_pipeline_full's train gate — so without the cache each call
    // re-paid the whole CC iteration (ProfileOne: the pipeline entry spent
    // ~4.6 s CPU / 37 jobs per run, most of it this loop). The relation is
    // corpus-sized but 4 narrow columns; same persistence discipline as
    // the pair/label relations it derives from. Dependencies are resolved
    // OUTSIDE the cache lambda per the RelCache recursive-update rule.
    val sigs = simhashWideSignatures(s, d)
    val docs = documents(s, d)
    RelCache.shared(s, d, "dedup/leakageSplit") {
      val pairs = simhashBandedPairs(sigs,
        SIMHASH_WIDE_WORDS, SIMHASH_WIDE_BAND_BITS, SIMHASH_WIDE_MAX_HAMMING)
      val labels = connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
      val h = conv(substring(md5(concat(lit("split:"), col("cluster_id").cast("string"))), 1, 7), 16, 10)
        .cast("long") % 100
      docs.select(col("doc_id"), col("lang"))
        .join(labels.select(col("id").as("doc_id"), col("label")), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "valid").otherwise("test"))
        .select(col("doc_id"), col("lang"), col("cluster_id"), col("split"))
    }
  }

  /** Connected components over an arbitrary undirected pair relation
    * (first two columns = the two endpoint long ids): returns (id, label)
    * for every id that appears in some pair, label = min id in its
    * component.
    *
    * This is the one operator in the repo written against the RDD API, for
    * the same reason GraphX is: an iterative graph loop needs ONE explicit
    * partitioner shared by the edge and label relations so that edges are
    * shuffled exactly once, up front, and every per-round join is narrow
    * (co-partitioned, zero exchange). The DataFrame formulation it replaced
    * re-shuffled the edge relation every round and paid 3 exchanges per
    * round in scheduler overhead — measured 9.7 s vs ~4 s on the same pair
    * graph. The partition count scales with the measured pair count (the
    * label relation is never larger than 2x pairs), so the loop runs
    * single-task when the dup graph is small and spreads when it isn't.
    *
    * @param checkpointDir when set, the loop takes a RELIABLE checkpoint
    *   (`RDD.checkpoint` into this directory) every [[checkpointInterval]]
    *   rounds instead of `localCheckpoint` every round. `localCheckpoint`
    *   stores the truncated lineage's only copy on executors: at
    *   billion-pair scale a single lost executor at round k kills the job
    *   with NO recompute path. With a reliable dir the blocks live in the
    *   checkpoint filesystem and intermediate rounds keep recomputable
    *   lineage back to the last checkpoint (at most `checkpointInterval`
    *   rounds deep). The trade: each checkpoint round writes the label
    *   relation out to storage — pay it on long jobs on real clusters,
    *   skip it (default) for short-lived local work. */
  def connectedComponents(
      pairs: DataFrame,
      smallGraphThreshold: Long = 2000000L,
      checkpointDir: Option[String] = None,
      checkpointInterval: Int = 5): DataFrame = {
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    val spark = pairs.sparkSession
    import spark.implicits._
    val Seq(ca, cb) = pairs.columns.take(2).toSeq.map(col)
    val prs = pairs.select(ca.cast("long").as("_1"), cb.cast("long").as("_2")).as[(Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = prs.count() // materializes the (expensive) upstream plan once
    // Small-graph fast path: below the threshold the whole pair graph fits
    // one shuffle block anyway (the loop below would run at p=1), so an
    // in-memory union-find in a single task replaces an O(log diameter)
    // sequence of distributed rounds — measured 8 rounds / ~5 s of job
    // overhead collapsing to one ~50 ms stage on a 191k-pair graph. The
    // same decision shape as broadcasting a small join side; the loop
    // below is the >threshold path (forced in tests via threshold = 0).
    if (nPairs <= smallGraphThreshold) {
      val labeled = prs.coalesce(1).mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) { parent(a) = a; seen += a }
          if (!parent.contains(b)) { parent(b) = b; seen += b }
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // union by min: the smaller id stays the root
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        seen.iterator.map(id => (id, find(id)))
      }.persist() // symmetric with the loop path's cached labels: consumers
      // that evaluate the result more than once (e.g. one broadcast per
      // chunk in dmlChunkedDedup) must not re-run union-find each time.
      // Materialize NOW and release the pair cache deterministically —
      // leaving it to the ContextCleaner let stale blocks and cleaner
      // churn bleed measurable time into whatever ran next.
      labeled.foreachPartition(_ => ())
      prs.unpersist(blocking = false)
      return labeled.toDF("id", "label")
    }
    // Partition count: at least one partition per ~2M pairs (bounds
    // per-partition memory at any graph size), but ALSO use the cluster's
    // width when the graph is only modestly over the fast-path threshold —
    // the pure volume formula gave a 10M-pair graph 4 partitions, leaving
    // a 32-core box near-serial for 13 rounds (measured: the workout's
    // loop time is dominated by it). A 50k-pair floor per partition stops
    // tiny graphs from drowning in per-task overhead; 10000 caps scheduler
    // pressure on the biggest graphs.
    val width = spark.sparkContext.defaultParallelism.toLong
    val p = math.max(1L, math.min(10000L,
      math.max(nPairs / 2000000L, math.min(width, nPairs / 50000L)))).toInt
    val part = new org.apache.spark.HashPartitioner(p)
    // Both orientations, partitioned ONCE by endpoint — never again.
    val edges = prs.flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.foreachPartition(_ => ()) // pin before dropping the pair cache
    prs.unpersist()
    // Seed with min(self, neighbors): a narrow reduce over the partitioned
    // edges (no shuffle), and it IS the first propagation round — band
    // cliques (the common near-dup shape) then converge in one loop pass.
    var labels = edges.reduceByKey(part, math.min(_, _))
      .mapPartitions(_.map { case (u, mn) => (u, math.min(u, mn)) },
        preservesPartitioning = true)
      .persist()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 25) {
      // min label among neighbors: narrow join (both sides `part`), then
      // the round's first real shuffle — one (node, label) pair per node.
      val msgs = edges.join(labels)
        .map { case (_, (v, lu)) => (v, lu) }
        .reduceByKey(part, math.min(_, _))
      val stepped = labels.leftOuterJoin(msgs) // narrow
        .mapValues { case (l, m) => math.min(l, m.getOrElse(l)) }
      // Pointer doubling: label := label(label), so a length-k chain
      // collapses in O(log k) rounds. stepped is keyed by id and labels ARE
      // ids, so re-keying by label and joining back is a lookup table.
      val byLabel = stepped.map { case (id, l) => (l, id) }.partitionBy(part)
      // Convergence is counted INSIDE the label-update map via an
      // accumulator instead of a separate count() over a next-vs-labels
      // join: the old label rides along through one more narrow join
      // (co-partitioned, zero exchange) and the round's single
      // materializing action reads the tally. A task retry can over-count,
      // which only ever costs one benign extra round — `changed` is
      // compared to 0, never used as a number.
      val acc = spark.sparkContext.longAccumulator("cc-label-changes")
      val next = byLabel.join(stepped) // narrow: both keyed+partitioned on the label
        .map { case (_, (id, l2)) => (id, l2) }
        .partitionBy(part)
        .join(labels) // narrow: old label for the convergence tally
        .mapPartitions(_.map { case (id, (nl, ol)) =>
          if (nl != ol) acc.add(1L)
          (id, nl)
        }, preservesPartitioning = true)
        .persist()
      checkpointDir match {
        case Some(dir) =>
          // Reliable path: survive executor loss. Only every Nth round
          // writes out; rounds in between keep lineage back to the last
          // checkpoint, so their blocks are recomputable after a failure.
          if ((rounds + 1) % checkpointInterval == 0) {
            if (spark.sparkContext.getCheckpointDir.isEmpty)
              spark.sparkContext.setCheckpointDir(dir)
            next.checkpoint() // marked BEFORE the round's job; written by it
          }
        case None =>
          next.localCheckpoint() // truncate lineage across rounds
      }
      next.foreachPartition(_ => ()) // the round's one job; fills the tally
      changed = acc.value
      // NB: the superseded round's RDD is left for the ContextCleaner —
      // explicitly unpersisting a localCheckpointed RDD can discard the
      // only copy of blocks its checkpoint truncation made unrecomputable.
      labels = next
      rounds += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $rounds changed=$changed nPairs=$nPairs p=$p")
    }
    // The kernel is exposed over ARBITRARY pair relations: a graph that
    // somehow failed to converge inside the round cap must fail loudly —
    // silently returning partial labels would assign wrong clusters.
    // (Unreachable for near-dup graphs: pointer doubling converges in
    // O(log diameter) <= 25 rounds for any graph under 2^25 nodes deep.)
    require(changed == 0, s"connectedComponents did not converge in $rounds rounds")
    edges.unpersist()
    labels.toDF("id", "label")
  }

  /** SimHash candidate quality vs the exact-Jaccard ground truth on the
    * bounded sample — symmetric to [[minhashPrecision]]. */
  def simhashPrecision(s: SparkSession, d: String): DataFrame = {
    val cand = dedupSimhash(s, d, maxDocId = Some(300))
      .select(col("doc_a"), col("doc_b"), lit(1).as("is_cand"))
    val exact = jaccardPairsShared(s, d).filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1).as("is_exact"))
    cand.join(exact, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(col("is_cand")).as("n_candidates"),
        sum(col("is_exact")).as("n_exact_05"),
        sum(col("is_cand") * col("is_exact")).as("n_both"))
  }

  /** The exact-Jaccard ground truth cached per (session, directory):
    * THREE catalog entries read the same bounded-sample relation — the
    * pair dump itself (`x_jaccard_pairs`) and both sketch-quality audits
    * (`x_dedup_minhash_precision`, `x_dedup_simhash_precision`). In
    * production the ground-truth table is computed once per sketch-tuning
    * pass and every audit reads the artifact (the [[simhashPairsShared]]
    * discipline); recomputing the O(sample²) merge per question charges
    * three nested-loop passes for one answer. Lifecycle via the shared
    * [[RelCache]]. */
  private def jaccardPairsShared(s: SparkSession, d: String): DataFrame =
    RelCache.shared(s, d, "dedup/jaccardPairs")(jaccardPairs(s, d))

  /** Exact word-bigram Jaccard over all pairs of a bounded subset — the
    * ground-truth near-dup measure the sketches approximate. O(n^2): only
    * ever run on a sample (here doc_id < 300); at scale this runs AFTER
    * LSH banding as the per-candidate verifier. */
  def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    // Sorted-distinct shingle arrays + the native merge-count expression:
    // |A ∩ B| via an allocation-free two-pointer merge in generated code,
    // |A ∪ B| = |A| + |B| - |A ∩ B|. Equal by construction to the
    // array_intersect/array_union formulation it replaced, ~O(pairs·len)
    // with no intermediate arrays.
    val docs = shingledDocs(s, d, maxDocId = Some(300))
      .select(col("doc_id"), sort_array(col("sh")).as("bg"))
    val inter = org.apache.spark.sql.graftbridge.sortedIntersectCount(col("a.bg"), col("b.bg"))
    // The merge count goes through an AGGREGATE before the jaccard>0
    // filter on purpose: a bare projection lets Catalyst push the filter
    // into the nested-loop JOIN CONDITION, where the whole merge would run
    // twice per candidate pair (measured 2.1s -> this shape ~0.7s at
    // sf0.1). Pairs are unique, so max() is the identity; the filter
    // cannot cross a non-grouping aggregate output, and the tiny
    // (doc_a, doc_b, ints) shuffle costs nothing next to the saved work.
    // Repartition the STREAM side: the 300-doc sample arrives as one
    // parquet split, which would run every pair-merge on a single core.
    docs.repartition(col("doc_id")).as("a")
      .join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        inter.as("i0"), (size(col("a.bg")) + size(col("b.bg"))).as("s0"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("i0")).as("inter"), max(col("s0")).as("stot"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("stot") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") > 0)
  }

  /** Candidate-quality audit: MinHash-LSH candidates vs the exact-Jaccard
    * ground truth on the same bounded sample (doc_id < 300) — the
    * verification loop a production dedup pipeline runs before trusting a
    * sketch configuration. Emits exact counts (deterministic, oracle-able):
    * precision = n_both/n_candidates, recall = n_both/n_exact_05. */
  def minhashPrecision(s: SparkSession, d: String): DataFrame = {
    // Band membership is a per-PAIR property, so running the sketch on the
    // doc_id < 300 subset yields exactly the pairs the full-corpus sketch
    // would emit with both ids < 300 — no need to hash the whole corpus
    // just to audit the sample.
    val cand = dedupMinhashLsh(s, d, maxDocId = Some(300))
      .select(col("doc_a"), col("doc_b"), lit(1).as("is_cand"))
    val exact = jaccardPairsShared(s, d).filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1).as("is_exact"))
    cand.join(exact, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(col("is_cand")).as("n_candidates"),
        sum(col("is_exact")).as("n_exact_05"),
        sum(col("is_cand") * col("is_exact")).as("n_both"))
  }

  // ---- Containment: the asymmetric near-dup measure Jaccard misses

  private val CONT_WRAP_OFFSET = 50000000L // disjoint from doc ids and every clone family
  private val CONT_WRAP_MOD = 9
  private val CONT_PAD_WORDS = 80
  private val CONT_TAU_PPM = 800000L

  /** Planted wrapper fixture: the original document followed by
    * [[CONT_PAD_WORDS]] md5-derived pseudo-words — an aggregation page /
    * quote-wrapper that CONTAINS the original wholesale. Every original
    * bigram survives in the wrapper, so containment(orig in wrapper) is
    * exactly 1.0 while Jaccard dilutes toward |A| / (|A| + pad). */
  private def wrapperText(text: Column): Column =
    concat(text, lit(" "), array_join(
      transform(sequence(lit(0), lit(CONT_PAD_WORDS - 1)),
        i => substring(md5(concat(text, lit("#w"), i.cast("string"))), 1, 6)),
      " "))

  /** Exact bigram-set CONTAINMENT over the bounded sample ∪ planted
    * wrappers (catalog `x_containment_pairs`): containment(A,B) =
    * |A∩B| / min(|A|,|B|) — Broder's asymmetric resemblance twin. This is
    * the measure that catches doc-in-doc duplication (aggregators, quote
    * wrappers, boilerplate-framed reposts) which symmetric Jaccard MISSES:
    * a short doc fully embedded in a 2× wrapper has containment 1.0 but
    * Jaccard < 0.5, under every gate in the lexical family. Emits both
    * ppm scores so the divergence is visible per pair; integral outputs
    * only (§8.4 rule). O(sample²) like [[jaccardPairs]] — at scale this
    * runs as the per-candidate verifier AFTER banding, same seam. */
  def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).filter(col("doc_id") < 300)
    val self = struct(col("doc_id").as("doc_id"), col("text").as("text"))
    val wrap = struct((col("doc_id") + CONT_WRAP_OFFSET).as("doc_id"),
      wrapperText(col("text")).as("text"))
    val docs = base
      .select(explode(
        when(col("doc_id") % CONT_WRAP_MOD === 4, array(self, wrap))
          .otherwise(array(self))).as("r"))
      .select(col("r.doc_id").as("doc_id"), tokensCol(col("r.text")).as("toks"))
      .select(col("doc_id"), bigramsFromTokens(col("toks")).as("bg0"))
      .filter(size(col("bg0")) > 0)
      .select(col("doc_id"), sort_array(col("bg0")).as("bg"))
    val inter = org.apache.spark.sql.graftbridge.sortedIntersectCount(col("a.bg"), col("b.bg"))
    // Same aggregate shield + stream-side spread as [[jaccardPairs]]: the
    // ppm gate must not push into the nested-loop join condition (the
    // merge would run twice per pair), and the one-split sample must not
    // serialize every pair-merge onto a single core.
    docs.repartition(col("doc_id")).as("a")
      .join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        inter.as("i0"), size(col("a.bg")).as("na0"), size(col("b.bg")).as("nb0"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("i0")).cast("long").as("n_shared"),
        max(col("na0")).cast("long").as("n_a"),
        max(col("nb0")).cast("long").as("n_b"))
      .withColumn("containment_ppm", expr("n_shared * 1000000 div least(n_a, n_b)"))
      .withColumn("jaccard_ppm", expr("n_shared * 1000000 div (n_a + n_b - n_shared)"))
      .filter(col("containment_ppm") >= CONT_TAU_PPM)
  }

  /** The per-chunk drop step of [[dmlChunkedDedup]]. The drop list is keyed
    * by the CHUNK key, so each chunk only needs the slice inside its own
    * BETWEEN range — at 100 TB the full list is billions of rows
    * (un-broadcastable), but the per-chunk slice is bounded by chunk size ×
    * dup rate. Same co-partitioning shape as dmlChunkedMerge's delta sides;
    * the range filter lands on the broadcast SIDE (pushed into its scan),
    * never on the chunk. */
  private[ops] def dedupChunkTransform(drop: DataFrame)(
      chunk: graft.chunker.Chunk, chunkDf: DataFrame): DataFrame = {
    val inRange = drop.filter(
      col("doc_id").between(lit(chunk.start.toLong), lit(chunk.end.toLong)))
    chunkDf.join(broadcast(inRange), Seq("doc_id"), "left_anti")
  }

  /** The production composition this library exists for: MATERIALIZE the
    * near-dup dedup decision over a live table with the reference's chunked
    * copy-on-write loop — per-chunk runtime-targeted BETWEEN slices, marker-
    * gated commits, idempotent retries — instead of one giant rewrite that
    * would hold the table hostage at 100 TB. The drop list (non-canonical
    * cluster members) comes straight from the CC label relation (id !=
    * label — no corpus rejoin) and stays dup-rate-sized; each chunk
    * broadcast-anti-joins its own range slice of it
    * ([[dedupChunkTransform]]). The audit aggregates the committed rewrite;
    * the oracle replays CC + the anti-join relationally, proving the
    * chunked materialization dropped EXACTLY the non-canonical docs. */
  def dmlChunkedDedup(s: SparkSession, d: String): DataFrame = {
    import graft.chunker.{ChunkedRewrite, ChunkerConfig}
    val outDir = graft.ops.Scratch.dir("graft_dml_chunked_dedup")
    val drop = dupLabelsShared(s, d)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
      .persist()
    drop.count() // materialize ONCE before the loop: each chunk broadcasts a slice
    // Base chunk 16k keys: the runtime-targeting law (targetTime = 5 s,
    // the reference's own demo setting, examples/basic.pl:23)
    // owns the real sizing — the base only has to be large enough that the
    // 50x corpus doesn't start from ~60 fixed-overhead slices (measured
    // 28 s at sf5 with a 1k base; the law converges in a few chunks from
    // 16k).
    val cfg = ChunkerConfig(chunkSize = BigInt(16384), targetTime = 5, sleep = 0,
      minChunkPercent = 0, retryAttempts = 3, log = _ => ())
    ChunkedRewrite.rewriteWithRange(documents(s, d), "doc_id", cfg, outDir,
      countProbe = false)(dedupChunkTransform(drop))
    drop.unpersist(blocking = false)
    ChunkedRewrite.auditAndClean(s, outDir)(
      _.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_keys"),
          sum(col("n_chars")).as("total_chars")))
  }

  // ---------------------------------------------------------------------
  // Duplicate-SPAN detection: document-level dedup (everything above)
  // leaves a corpus where no two DOCUMENTS are near-identical but long
  // verbatim passages (licenses, boilerplate, quoted headers) still repeat
  // across thousands of otherwise-distinct documents. Substring-level
  // dedup (Lee et al. 2021, "Deduplicating Training Data Makes Language
  // Models Better") removes those. The paper builds a suffix array —
  // inherently sequential; the Spark-native shape is gram-positional:
  // every token position contributes its SPAN_GRAM-token gram hash, a
  // gram is duplicated iff it occurs in more than one document, and each
  // document's duplicated positions are merged into maximal spans.
  //
  // Scale shape: the gram table is token-count-sized (linear, the same
  // explode decontam does); "occurs in >1 doc" is min(doc_id)≠max(doc_id)
  // — a fully map-side-combinable aggregate, deliberately NOT
  // countDistinct (no per-group distinct expansion on the biggest
  // relation in the plan); the join back to positions shuffles on gram
  // hash (linear); the island merge windows only DUPLICATED positions,
  // partitioned by doc_id — dup-fraction × corpus rows, each partition
  // bounded by a single document's length. Nothing quadratic anywhere.
  // ---------------------------------------------------------------------
  private[ops] val SPAN_GRAM = 8

  /** (doc_id, pos, g): the SPAN_GRAM-token gram starting at 0-based token
    * position pos. The gram hashes come from the native
    * [[org.apache.spark.sql.graftbridge.NgramMd5]] expression — one byte
    * pass per document, whole-stage-codegen friendly; the transform+slice
    * HOF formulation it replaced was CodegenFallback and paid an
    * interpreted slice-copy + string rebuild per gram (measured 5.8
    * µs/gram — it dominated the span plan, and this relation is built
    * twice per query). Tokenization still materializes in its own
    * projection first (same optimizer trap as [[bigramsFromTokens]]). */
  private def gramPositions(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), tokensCol(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graftbridge.ngramMd5(col("toks"), SPAN_GRAM))
          .as(Seq("pos", "g")))

  /** Token positions whose gram occurs in MORE THAN ONE document. Within-
    * doc repetition is deliberately out of scope here (that is
    * [[TextAnalysis.repetition]]'s signal); cross-doc verbatim overlap is
    * what substring dedup removes. With `dropCanonical` the corpus-wide
    * FIRST holder (min doc_id) of each gram keeps its positions — the
    * keep-one-occurrence rule the scrub applies. */
  private def dupPositions(s: SparkSession, d: String,
      dropCanonical: Boolean = false): DataFrame = {
    val pos = gramPositions(s, d)
    val dupGrams = pos.groupBy(col("g"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("g"), col("mn"))
    val joined = pos.join(dupGrams, "g")
    (if (dropCanonical) joined.filter(col("doc_id") =!= col("mn")) else joined)
      .select(col("doc_id"), col("pos"))
  }

  /** Gaps-and-islands merge of gram-start positions into maximal spans:
    * two duplicated gram starts merge when their covered token ranges
    * overlap or are adjacent (gap ≤ the gram length). Shared with the
    * span-level decontamination scrub in ops/TextAnalysis, which runs the
    * same merge over 4-gram benchmark-match positions. */
  private[ops] def islandSpans(positions: DataFrame,
      gram: Int = SPAN_GRAM): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    positions
      // first row of a doc: lag is null → condition null → otherwise(0);
      // islands are 0-based running sums, identical in the oracle.
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > gram, 1).otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + gram - 1).as("span_end"))
      .select(col("doc_id"),
        col("span_start").cast("int").as("span_start"),
        col("span_end").cast("int").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("int").as("span_tokens"))
  }

  /** Maximal cross-document duplicated spans per document (catalog
    * `x_dup_spans`): (doc_id, span_start, span_end, span_tokens), both
    * bounds inclusive 0-based token positions. */
  def dupSpans(s: SparkSession, d: String): DataFrame =
    islandSpans(dupPositions(s, d))

  /** Post-scrub token mass per document — the COUNT face of
    * [[dupSpanScrub]] (islands are disjoint by construction, so
    * n_after = n_before − Σ span_tokens without rebuilding the token
    * array; a spec pins equality to the rewrite's size). Feeds the
    * full-pipeline composition, where only the mass matters. */
  private[ops] def scrubbedTokenCounts(s: SparkSession, d: String): DataFrame = {
    val per = islandSpans(dupPositions(s, d, dropCanonical = true))
      .groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("dup_tokens"))
    documents(s, d)
      .select(col("doc_id"), tokenCountCol(col("text")).cast("long").as("n_before"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_before") - coalesce(col("dup_tokens"), lit(0L))).as("n_tokens"))
  }

  /** The consuming transformation (catalog `x_dup_span_scrub`): rewrite
    * each document with its duplicated spans REMOVED, keeping the
    * corpus-wide first occurrence — a token position is scrubbed iff the
    * gram starting there is cross-doc duplicated AND this document is not
    * the minimum doc_id holding that gram (Lee et al. 2021's
    * all-but-one-occurrence rule at document granularity). Emits exact
    * before/after token counts plus the md5 of the surviving token stream
    * so the oracle verifies the REWRITE, not just the arithmetic.
    *
    * Scale: the span relation rolls up to ≤ one array per affected doc
    * (dup-fraction-bounded) before touching the corpus, which is then
    * rewritten in a single scan-speed pass — the per-row HOF filter is
    * O(tokens × spans) with spans per doc tiny by construction. */
  def dupSpanScrub(s: SparkSession, d: String): DataFrame = {
    val spanArr = islandSpans(dupPositions(s, d, dropCanonical = true))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    documents(s, d)
      .select(col("doc_id"), tokensCol(lower(col("text"))).as("toks"))
      .join(spanArr, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("sp"),
          array().cast("array<struct<span_start:int,span_end:int>>")).as("sp"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens_before"),
        filter(col("toks"), (_, i) =>
          !exists(col("sp"),
            sp => i >= sp("span_start") && i <= sp("span_end"))).as("kept"))
      .select(col("doc_id"),
        col("n_tokens_before"),
        size(col("kept")).as("n_tokens_after"),
        md5(concat_ws(" ", col("kept"))).as("kept_hash"))
  }

  // ---------------------------------------------------------------------
  // BOILERPLATE detection: the frequency-thresholded, source-scoped
  // sibling of the duplicate-span family (CCNet / RefinedWeb shape —
  // Wenzek et al. 2019 dedupe repeated paragraphs per snapshot; Penedo et
  // al. 2023 strip lines recurring across a domain's pages). Dup-spans
  // asks "does this passage occur in ANY other document?" and keeps the
  // first holder; boilerplate asks "does this short gram recur across ≥K
  // documents OF THE SAME SOURCE?" and removes EVERY occurrence — nav
  // text, headers, license stubs are per-site noise with no canonical
  // copy worth keeping. Short grams (3 tokens) + a frequency floor is
  // what separates template noise from legitimately quoted content.
  //
  // Scale shape: gram table is token-count-sized; the distinct
  // (source, g, doc_id) triple dedup is the one linear shuffle (done
  // BEFORE counting so the count itself is a plain map-side-combinable
  // agg, never countDistinct over the biggest relation); the boilerplate
  // gram set is frequency-floored — domain-template-bounded, tiny
  // relative to the corpus — and joins back to positions on the gram
  // hash. Island merge and scan-speed rewrite are the dup-span kernels
  // reused verbatim.
  // ---------------------------------------------------------------------
  private[ops] val BOILER_GRAM = 3
  private[ops] val BOILER_MIN_DOCS = 3L

  /** (doc_id, source, pos, g): BOILER_GRAM-token gram hashes per position —
    * [[gramPositions]]'s algebra at boilerplate length with the source
    * riding along for the per-source scoping. */
  private def boilerGramPositions(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), col("source"),
        tokensCol(lower(col("text"))).as("toks"))
      .select(col("doc_id"), col("source"),
        posexplode(org.apache.spark.sql.graftbridge.ngramMd5(col("toks"), BOILER_GRAM))
          .as(Seq("pos", "g")))

  /** Grams recurring in ≥ BOILER_MIN_DOCS distinct docs of one source. */
  private def boilerGrams(pos: DataFrame): DataFrame =
    pos.select(col("source"), col("g"), col("doc_id")).distinct()
      .groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("n_docs_with"))
      .filter(col("n_docs_with") >= BOILER_MIN_DOCS)

  /** Per-source boilerplate report (catalog `x_boilerplate_grams`): how
    * many grams clear the frequency floor, how many documents carry one,
    * and the total token positions they cover — the numbers a pipeline
    * owner reads to decide whether a source needs template stripping.
    * All integral. */
  def boilerplateGrams(s: SparkSession, d: String): DataFrame = {
    val pos = boilerGramPositions(s, d)
    pos.join(boilerGrams(pos), Seq("source", "g"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("g")).as("n_boiler_grams"),
        countDistinct(col("doc_id")).as("n_docs_hit"),
        count(lit(1)).as("n_positions"))
  }

  /** The consuming transformation (catalog `x_boilerplate_scrub`):
    * rewrite each affected document with every boilerplate-covered token
    * position REMOVED — all occurrences, no canonical keeper (contrast
    * [[dupSpanScrub]]'s keep-first rule: boilerplate has no copy worth
    * keeping). Coverage merges through the shared [[islandSpans]] kernel
    * at boilerplate gram length; emits exact before/after counts plus the
    * md5 of the surviving token stream so the oracle verifies the
    * REWRITE. Only affected docs surface — at scale the output is
    * template-hit-bounded, not corpus-sized. */
  def boilerplateScrub(s: SparkSession, d: String): DataFrame = {
    val pos = boilerGramPositions(s, d)
    val covered = pos.join(boilerGrams(pos), Seq("source", "g"))
      .select(col("doc_id"), col("pos"))
    val spanArr = islandSpans(covered, gram = BOILER_GRAM)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    documents(s, d)
      .select(col("doc_id"), tokensCol(lower(col("text"))).as("toks"))
      .join(spanArr, Seq("doc_id")) // inner: only affected docs rewrite
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens_before"),
        filter(col("toks"), (_, i) =>
          !exists(col("sp"),
            sp => i >= sp("span_start") && i <= sp("span_end"))).as("kept"))
      .select(col("doc_id"),
        col("n_tokens_before"),
        size(col("kept")).as("n_tokens_after"),
        md5(concat_ws(" ", col("kept"))).as("kept_hash"))
  }

  /** Corpus-health rollup of [[dupSpans]] (catalog `x_dup_span_stats`):
    * per source, how much of the token mass sits inside cross-document
    * duplicated spans — the number a pipeline owner reads to decide
    * whether substring-level scrubbing is worth a pass. Exact integer
    * tallies; the rollup adds one broadcast-sized join (per-doc span sums)
    * onto the span plan. */
  def dupSpanStats(s: SparkSession, d: String): DataFrame = {
    val perDoc = dupSpans(s, d)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_tokens")).as("dup_tokens"))
    documents(s, d)
      .select(col("doc_id"), col("source"), tokenCountCol(col("text")).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("dup_tokens") > 0, 1).otherwise(0)).as("docs_with_dups"),
        sum(coalesce(col("dup_tokens"), lit(0L))).as("dup_tokens"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dml_chunked_dedup" -> (dmlChunkedDedup _),
    "x_dedup_exact" -> (dedupExact _),
    "x_dedup_norm" -> (dedupNormalized _),
    "x_dedup_keep_list" -> (dedupKeepList _),
    "x_dedup_keep_best" -> (dedupKeepBest _),
    "x_dedup_minhash" -> ((s, d) => dedupMinhashLsh(s, d)),
    "x_dedup_incremental" -> (dedupIncremental _),
    "x_stream_dedup_incremental" -> (dedupStreamIncremental _),
    "x_stream_dedup_compacted" -> (dedupStreamCompacted _),
    "x_stream_dedup_manifest" -> (dedupStreamManifest _),
    "x_stream_dedup_tiered" -> (dedupStreamTiered _),
    "x_dedup_simhash" -> ((s, d) => dedupSimhash(s, d)),
    "x_dedup_simhash_wide" -> (dedupSimhashWide _),
    "x_dedup_minhash_precision" -> (minhashPrecision _),
    "x_dedup_simhash_precision" -> (simhashPrecision _),
    "x_dedup_cc" -> (dedupClusters _),
    "x_dedup_soft_weights" -> (dedupSoftWeights _),
    "x_dedup_cross_source" -> (dedupCrossSource _),
    "x_dup_cluster_sizes" -> (dupClusterSizes _),
    "x_split_leakage_safe" -> (leakageSafeSplit _),
    "x_jaccard_pairs" -> (jaccardPairsShared _),
    "x_containment_pairs" -> (containmentPairs _),
    "x_dup_spans" -> (dupSpans _),
    "x_dup_span_stats" -> (dupSpanStats _),
    "x_dup_span_scrub" -> (dupSpanScrub _),
    "x_boilerplate_grams" -> (boilerplateGrams _),
    "x_boilerplate_scrub" -> (boilerplateScrub _)
  )

  /** Shared CTE chain for the duplicate-span oracles: gram positions →
    * cross-doc duplicated grams (min≠max doc) → island merge — the same
    * algebra the Spark plan executes, token for token. `posFilter`
    * injects the scrub's keep-first-occurrence rule. */
  private[ops] def dupSpanCtes(posFilter: String = ""): String =
    s"""tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS w FROM documents),
       |gp AS (
       |  SELECT doc_id,
       |         unnest(range(0, greatest(len(w) - ${SPAN_GRAM - 1}, 0))) AS pos,
       |         unnest(list_transform(range(0, greatest(len(w) - ${SPAN_GRAM - 1}, 0)),
       |           i -> md5(array_to_string(w[i+1 : i+$SPAN_GRAM], ' ')))) AS g
       |  FROM tok),
       |dupg AS (SELECT g, min(doc_id) AS mn FROM gp GROUP BY g HAVING min(doc_id) <> max(doc_id)),
       |p AS (SELECT doc_id, pos FROM gp JOIN dupg USING (g)$posFilter),
       |brk AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $SPAN_GRAM
       |              THEN 1 ELSE 0 END AS brk
       |  FROM p),
       |isl AS (
       |  SELECT doc_id, pos,
       |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM brk),
       |spans AS (
       |  SELECT doc_id,
       |         CAST(min(pos) AS INTEGER) AS span_start,
       |         CAST(max(pos) + ${SPAN_GRAM - 1} AS INTEGER) AS span_end,
       |         CAST(max(pos) + ${SPAN_GRAM - 1} - min(pos) + 1 AS INTEGER) AS span_tokens
       |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** DuckDB twin of the full MinHash pipeline (shared CTE pile for the
    * sketch query and the precision audit). The (a, b) constants are the
    * SAME Scala values as [[minhashParams]], inlined as a VALUES list. */
  /** `source` lets a composing oracle feed the chain from its own CTE
    * (e.g. the snapshot-probe oracle's v1 ∪ shifted-delta union) instead
    * of the raw documents table. */
  private[ops] def minhashCtes(docFilter: String = "", source: String = "documents"): String = {
    val perm = minhashParams.zipWithIndex
      .map { case ((a, b), i) => s"($i,$a,$b)" }.mkString(",")
    s"""w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w FROM $source$docFilter),
       |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
       |       FROM w WHERE len(w) >= 2),
       |h AS (SELECT doc_id, CAST('0x' || substring(md5(sh), 1, 7) AS BIGINT) AS h FROM sh),
       |mh AS (SELECT doc_id, p.i AS i, min((p.a * h + p.b) % $MH_P) AS mh
       |       FROM h, (VALUES $perm) p(i,a,b) GROUP BY doc_id, p.i),
       |sig AS (SELECT doc_id, list(mh ORDER BY i) AS mh FROM mh GROUP BY doc_id),
       |band AS (SELECT doc_id, mh, b.b AS band_idx,
       |                CAST('0x' || substring(md5(array_to_string(mh[b.b*4+1 : b.b*4+4], ',')), 1, 15) AS BIGINT) AS band_key
       |         FROM sig, (SELECT unnest(range(0, $BANDS)) AS b) b),
       |cand AS (
       |  SELECT doc_a, doc_b,
       |         CAST(list_sum(list_transform(range(1,${K + 1}), j -> CASE WHEN mh_a[j] = mh_b[j] THEN 1 ELSE 0 END)) AS DOUBLE)/$K AS est_jaccard
       |  FROM (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.mh AS mh_a, b.mh AS mh_b
       |        FROM band a JOIN band b
       |          ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |  WHERE CAST(list_sum(list_transform(range(1,${K + 1}), j -> CASE WHEN mh_a[j] = mh_b[j] THEN 1 ELSE 0 END)) AS DOUBLE)/$K >= 0.5)""".stripMargin
  }

  /** DuckDB twin of the SimHash pipeline (shared by the sketch query and
    * its precision audit). */
  private def simhashCtes(docFilter: String = ""): String =
    s"""tok AS (SELECT doc_id, unnest(regexp_extract_all(text,'\\S+')) AS tok FROM documents$docFilter),
       |h AS (SELECT doc_id, CAST('0x' || substring(md5(tok),1,15) AS BIGINT) AS h FROM tok),
       |bits AS (SELECT doc_id, i.i AS i, SUM(CASE WHEN (h >> CAST(i.i AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |         FROM h, (SELECT unnest(range(0,$SIMHASH_BITS)) AS i) i GROUP BY doc_id, i.i),
       |sig AS (SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
       |        FROM bits GROUP BY doc_id),
       |sband AS (SELECT doc_id, simhash, b.b AS band_idx, (simhash >> CAST(b.b*10 AS INTEGER)) & 1023 AS band_val
       |          FROM sig, (SELECT unnest(range(0,$SIMHASH_BANDS)) AS b) b),
       |scand AS (
       |  SELECT doc_a, doc_b, hamming FROM (
       |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |    FROM sband a JOIN sband b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
       |  WHERE hamming <= $SIMHASH_MAX_HAMMING)""".stripMargin

  /** Wide-family (120-bit, 8×15-bit-band) signature + candidate CTE chain,
    * ending in `wcand(doc_a, doc_b, hamming)` — shared by the wide-dedup
    * oracle and the leakage-safe-split oracle. */
  /** `tokName` de-collides the leading token CTE when this chain is glued
    * into a larger WITH pile that already defines `tok` (the pipeline
    * composition oracle does, via [[dupSpanCtes]]). */
  private[ops] def simhashWideCtes(tokName: String = "tok"): String =
    s"""$tokName AS (SELECT doc_id, unnest(regexp_extract_all(text,'\\S+')) AS tok FROM documents),
       |h2 AS (SELECT doc_id,
       |              CAST('0x' || substring(md5(tok),1,15) AS BIGINT) AS h0,
       |              CAST('0x' || substring(md5(tok),16,15) AS BIGINT) AS h1 FROM $tokName),
       |wbits AS (SELECT doc_id, i.i AS i,
       |                 SUM(CASE WHEN (h0 >> CAST(i.i AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s0,
       |                 SUM(CASE WHEN (h1 >> CAST(i.i AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s1
       |          FROM h2, (SELECT unnest(range(0,$SIMHASH_BITS)) AS i) i GROUP BY doc_id, i.i),
       |wsig AS (SELECT doc_id,
       |                CAST(SUM(CASE WHEN s0 > 0 THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT) AS w0,
       |                CAST(SUM(CASE WHEN s1 > 0 THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT) AS w1
       |         FROM wbits GROUP BY doc_id),
       |wband AS (SELECT doc_id, w0, w1, b.b AS band_idx,
       |                 CASE WHEN b.b < 4 THEN (w0 >> CAST(b.b*$SIMHASH_WIDE_BAND_BITS AS INTEGER)) & ${(1 << SIMHASH_WIDE_BAND_BITS) - 1}
       |                      ELSE (w1 >> CAST((b.b-4)*$SIMHASH_WIDE_BAND_BITS AS INTEGER)) & ${(1 << SIMHASH_WIDE_BAND_BITS) - 1} END AS band_val
       |          FROM wsig, (SELECT unnest(range(0,8)) AS b) b),
       |wcand AS (
       |  SELECT doc_a, doc_b, hamming FROM (
       |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |           CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INTEGER) AS hamming
       |    FROM wband a JOIN wband b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
       |  WHERE hamming <= $SIMHASH_WIDE_MAX_HAMMING)""".stripMargin

  private def jaccardCte: String =
    """jt AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(regexp_extract_all(text,'\S+'))),
      |           i -> regexp_extract_all(text,'\S+')[i] || ' ' || regexp_extract_all(text,'\S+')[i+1])) AS bg
      |  FROM documents WHERE doc_id < 300),
      |jp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / len(list_distinct(a.bg || b.bg)) AS jaccard
      |  FROM jt a, jt b
      |  WHERE a.doc_id < b.doc_id AND len(a.bg) > 0 AND len(b.bg) > 0)""".stripMargin

  /** Id shift that carries the diff DELTA through the one-`src` minhash
    * CTE chain of the `x_diff_dedup_probe` oracle (the probe join splits
    * on it, the output un-shifts). It must stay strictly above every id
    * either side can hold: raw doc ids are < [[TextAnalysis.DIFF_NEW_OFFSET]]
    * by fixture contract ("disjoint from doc ids"), and the v2 "added"
    * ids are doc_id + DIFF_NEW_OFFSET < 2·DIFF_NEW_OFFSET — so the
    * require below pins the headroom and a future offset bump can't
    * silently alias delta ids into the index range. */
  private val DIFF_PROBE_SHIFT = 100000000L
  require(DIFF_PROBE_SHIFT >= 2 * TextAnalysis.DIFF_NEW_OFFSET,
    s"DIFF_PROBE_SHIFT ($DIFF_PROBE_SHIFT) must exceed every possible v2 doc id " +
      s"(< 2 * DIFF_NEW_OFFSET = ${2 * TextAnalysis.DIFF_NEW_OFFSET})")

  /** Every sketch here is now exactly replicable in DuckDB (md5-derived
    * hashes + integer permutation family) — full hash-level oracles, no
    * rows-only checks left in this module. */
  val oracleSql: Map[String, String] = Map(
    "x_dedup_minhash" ->
      s"""WITH ${minhashCtes()}
         |SELECT doc_a, doc_b, est_jaccard FROM cand""".stripMargin,
    // The streaming incremental union must equal the one-shot batch pair set
    // (the parity theorem on graft.streaming.DedupStream) — the oracle IS
    // the x_dedup_minhash oracle, which is the point.
    "x_stream_dedup_incremental" ->
      s"""WITH ${minhashCtes()}
         |SELECT doc_a, doc_b, est_jaccard FROM cand""".stripMargin,
    // Parity must also survive the maintenance window: compacting the
    // signature index between micro-batches changes partition layout, not
    // content, so the oracle is STILL the one-shot batch pair set.
    "x_stream_dedup_compacted" ->
      s"""WITH ${minhashCtes()}
         |SELECT doc_a, doc_b, est_jaccard FROM cand""".stripMargin,
    // ...and across the OBJECT-STORE maintenance path: the manifest-pointer
    // fold (single-file commit, no directory rename) changes where the
    // folded rows physically live and how the probe resolves them, but not
    // one row of content — still the one-shot batch pair set.
    "x_stream_dedup_manifest" ->
      s"""WITH ${minhashCtes()}
         |SELECT doc_a, doc_b, est_jaccard FROM cand""".stripMargin,
    // ...and across the threshold-gated maintenance schedule: a no-op
    // below-threshold window and an at-threshold fold both preserve the
    // one-shot pair set.
    "x_stream_dedup_tiered" ->
      s"""WITH ${minhashCtes()}
         |SELECT doc_a, doc_b, est_jaccard FROM cand""".stripMargin,
    "x_dedup_simhash" ->
      s"""WITH ${simhashCtes()}
         |SELECT doc_a, doc_b, hamming FROM scand""".stripMargin,
    // Same CC transitive closure as the soft-weights oracle, rolled into
    // a size histogram; the singleton bucket is the corpus minus every
    // doc the closure labeled.
    "x_dup_cluster_sizes" ->
      s"""WITH RECURSIVE ${simhashCtes()},
         |e AS (SELECT doc_a AS u, doc_b AS v FROM scand
         |      UNION ALL SELECT doc_b, doc_a FROM scand),
         |walk(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT w.u, e2.v FROM walk w JOIN e e2 ON w.v = e2.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM walk GROUP BY u),
         |sz AS (SELECT cluster_id, count(*) AS csize FROM cc GROUP BY cluster_id),
         |hist AS (SELECT csize, count(*) AS n_clusters FROM sz GROUP BY csize
         |      UNION ALL
         |      SELECT 1 AS csize, count(*) AS n_clusters FROM documents d
         |      WHERE d.doc_id NOT IN (SELECT doc_id FROM cc))
         |SELECT CAST(csize AS BIGINT) AS csize,
         |       CAST(sum(n_clusters) AS BIGINT) AS n_clusters
         |FROM hist GROUP BY csize""".stripMargin,
    // Same candidate relation, endpoints labeled with their sources and
    // the pair canonicalized (least, greatest) into one triangle.
    "x_dedup_cross_source" ->
      s"""WITH ${simhashCtes()},
         |sp AS (SELECT least(da.source, db.source) AS source_a,
         |              greatest(da.source, db.source) AS source_b
         |       FROM scand c
         |       JOIN documents da ON c.doc_a = da.doc_id
         |       JOIN documents db ON c.doc_b = db.doc_id)
         |SELECT source_a, source_b, count(*) AS n_pairs
         |FROM sp GROUP BY source_a, source_b""".stripMargin,
    // Wide family: two 60-bit words from the SAME md5 (hex chars 1-15 and
    // 16-30), 8 bands x 15 bits, hamming over both words <= 7. Band idx is
    // word-major: bands 0-3 slice w0, bands 4-7 slice w1.
    "x_dedup_simhash_wide" ->
      s"""WITH ${simhashWideCtes()}
         |SELECT doc_a, doc_b, hamming FROM wcand""".stripMargin,
    // Incremental: incoming (odd doc_id) bands probe existing (even) bands;
    // same signature/band CTEs, asymmetric join instead of the self-join.
    // Oracle for TextAnalysis.diffDedupProbe — lives here because the
    // minhash CTE chain and its K constant are this object's internals.
    // The delta rides the chain at doc_id + DIFF_PROBE_SHIFT so one `src`
    // union feeds both sides; the probe join splits on the shift and the
    // output un-shifts.
    "x_diff_dedup_probe" ->
      s"""WITH v2src AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 10 = 3 THEN text || ' rev2 ' || md5(text)
         |              ELSE text END AS text
         |  FROM documents WHERE doc_id % 10 <> 7
         |  UNION ALL
         |  SELECT doc_id + ${TextAnalysis.DIFF_NEW_OFFSET}, 'fresh ' || md5(text || '#new')
         |  FROM documents WHERE doc_id % 10 = 1),
         |v1h AS (SELECT doc_id, md5(text) AS h FROM documents),
         |delta AS (
         |  SELECT v2src.doc_id, v2src.text
         |  FROM v2src LEFT JOIN v1h ON v2src.doc_id = v1h.doc_id
         |  WHERE v1h.h IS NULL OR md5(v2src.text) <> v1h.h),
         |src AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $DIFF_PROBE_SHIFT, text FROM delta),
         |${minhashCtes(source = "src")},
         |ppair AS (
         |  SELECT doc_id - $DIFF_PROBE_SHIFT AS doc_id, match_doc FROM (
         |    SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS match_doc, a.mh AS mh_a, b.mh AS mh_b
         |    FROM band a JOIN band b
         |      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    WHERE a.doc_id >= $DIFF_PROBE_SHIFT AND b.doc_id < $DIFF_PROBE_SHIFT)
         |  WHERE CAST(list_sum(list_transform(range(1,${K + 1}), j -> CASE WHEN mh_a[j] = mh_b[j] THEN 1 ELSE 0 END)) AS DOUBLE)/$K >= 0.5)
         |SELECT doc_id, min(match_doc) AS match_id, count(*) AS n_matches
         |FROM ppair GROUP BY doc_id""".stripMargin,
    "x_dedup_incremental" ->
      s"""WITH ${minhashCtes()},
         |ipair AS (
         |  SELECT doc_id, match_doc FROM (
         |    SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS match_doc, a.mh AS mh_a, b.mh AS mh_b
         |    FROM band a JOIN band b
         |      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
         |  WHERE CAST(list_sum(list_transform(range(1,${K + 1}), j -> CASE WHEN mh_a[j] = mh_b[j] THEN 1 ELSE 0 END)) AS DOUBLE)/$K >= 0.5)
         |SELECT doc_id, min(match_doc) AS match_id, count(*) AS n_matches
         |FROM ipair GROUP BY doc_id""".stripMargin,
    // Chunked dedup materialization: survivors = docs that are not a
    // non-canonical member of some near-dup component (same walk CTEs as
    // the CC oracle below).
    "dml_chunked_dedup" ->
      s"""WITH RECURSIVE ${simhashCtes()},
         |e AS (SELECT doc_a AS u, doc_b AS v FROM scand
         |      UNION ALL SELECT doc_b, doc_a FROM scand),
         |walk(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT w.u, e2.v FROM walk w JOIN e e2 ON w.v = e2.u),
         |dropped AS (SELECT u AS doc_id FROM walk GROUP BY u
         |            HAVING least(u, min(v)) <> u)
         |SELECT lang, count(*) AS n_docs,
         |       count(DISTINCT doc_id) AS n_keys,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)
         |GROUP BY lang""".stripMargin,
    // CC oracle: transitive closure by recursive CTE (UNION dedups, so the
    // walk terminates), cluster_id = min doc_id reachable from each node.
    // Tractable because the oracle only walks the near-dup pair graph, not
    // the corpus.
    "x_dedup_cc" ->
      s"""WITH RECURSIVE ${simhashCtes()},
         |e AS (SELECT doc_a AS u, doc_b AS v FROM scand
         |      UNION ALL SELECT doc_b, doc_a FROM scand),
         |walk(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT w.u, e2.v FROM walk w JOIN e e2 ON w.v = e2.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM walk GROUP BY u)
         |SELECT d.doc_id,
         |       COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
         |       CASE WHEN d.doc_id = COALESCE(cc.cluster_id, d.doc_id)
         |            THEN 1 ELSE 0 END AS is_canonical
         |FROM documents d LEFT JOIN cc USING (doc_id)""".stripMargin,
    // Same CC closure -> per-cluster argmax on (n_tokens, -doc_id): the
    // keep-best rule replayed as a window (the Spark side is one
    // max-struct aggregate; both pick max tokens, then min id).
    "x_dedup_keep_best" ->
      s"""WITH RECURSIVE ${simhashCtes()},
         |e AS (SELECT doc_a AS u, doc_b AS v FROM scand
         |      UNION ALL SELECT doc_b, doc_a FROM scand),
         |walk(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT w.u, e2.v FROM walk w JOIN e e2 ON w.v = e2.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM walk GROUP BY u),
         |m AS (SELECT cc.cluster_id, cc.doc_id,
         |        CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_tokens
         |      FROM cc JOIN documents d USING (doc_id)),
         |r AS (SELECT cluster_id, doc_id, n_tokens,
         |        row_number() OVER (PARTITION BY cluster_id
         |          ORDER BY n_tokens DESC, doc_id) AS rn,
         |        count(*) OVER (PARTITION BY cluster_id) AS n_members,
         |        SUM(n_tokens) OVER (PARTITION BY cluster_id) AS total_tokens
         |      FROM m)
         |SELECT cluster_id, doc_id AS keep_id, n_tokens AS kept_tokens,
         |       CAST(n_members AS BIGINT) AS n_members,
         |       CAST(total_tokens AS BIGINT) AS total_tokens
         |FROM r WHERE rn = 1""".stripMargin,
    // CC transitive closure -> cluster sizes over ALL docs (singletons are
    // their own size-1 cluster) -> integral ppm weights -> per-source mass.
    "x_dedup_soft_weights" ->
      s"""WITH RECURSIVE ${simhashCtes()},
         |e AS (SELECT doc_a AS u, doc_b AS v FROM scand
         |      UNION ALL SELECT doc_b, doc_a FROM scand),
         |walk(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT w.u, e2.v FROM walk w JOIN e e2 ON w.v = e2.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM walk GROUP BY u),
         |lab AS (SELECT d.doc_id, d.source,
         |          CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_tokens,
         |          COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN cc USING (doc_id)),
         |sz AS (SELECT cluster_id, count(*) AS csize FROM lab GROUP BY cluster_id),
         |w AS (SELECT lab.source, lab.n_tokens, sz.csize,
         |        1000000 // sz.csize AS weight_ppm
         |      FROM lab JOIN sz USING (cluster_id))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup_clusters,
         |  CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
         |  CAST(CAST(sum(CAST(n_tokens * weight_ppm AS HUGEINT)) AS HUGEINT)
         |       // 1000000 AS BIGINT) AS weighted_tokens
         |FROM w GROUP BY source""".stripMargin,
    // Same transitive closure as the CC oracle but over the WIDE pair
    // family, then the salted md5 residue law 80/10/10 on the CLUSTER id —
    // the whole leakage-safe split is replayed exactly.
    "x_split_leakage_safe" ->
      s"""WITH RECURSIVE ${simhashWideCtes()},
         |e AS (SELECT doc_a AS u, doc_b AS v FROM wcand
         |      UNION ALL SELECT doc_b, doc_a FROM wcand),
         |walk(u, v) AS (
         |  SELECT u, v FROM e
         |  UNION
         |  SELECT w.u, e2.v FROM walk w JOIN e e2 ON w.v = e2.u),
         |cc AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |       FROM walk GROUP BY u),
         |asg AS (SELECT d.doc_id, d.lang,
         |               COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
         |        FROM documents d LEFT JOIN cc USING (doc_id))
         |SELECT doc_id, lang, cluster_id,
         |       CASE WHEN CAST('0x' || substring(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 80 THEN 'train'
         |            WHEN CAST('0x' || substring(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 < 90 THEN 'valid'
         |            ELSE 'test' END AS split
         |FROM asg""".stripMargin,
    "x_dedup_simhash_precision" ->
      s"""WITH ${simhashCtes(" WHERE doc_id < 300")},
         |$jaccardCte
         |SELECT CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
         |       CAST(SUM(is_exact) AS BIGINT) AS n_exact_05,
         |       CAST(SUM(is_cand * is_exact) AS BIGINT) AS n_both
         |FROM (SELECT doc_a, doc_b, 1 AS is_cand FROM scand) c
         |FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS is_exact FROM jp WHERE jaccard >= 0.5) e
         |  USING (doc_a, doc_b)""".stripMargin,
    "x_dedup_minhash_precision" ->
      s"""WITH ${minhashCtes(" WHERE doc_id < 300")},
         |$jaccardCte
         |SELECT CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
         |       CAST(SUM(is_exact) AS BIGINT) AS n_exact_05,
         |       CAST(SUM(is_cand * is_exact) AS BIGINT) AS n_both
         |FROM (SELECT doc_a, doc_b, 1 AS is_cand FROM cand) c
         |FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS is_exact FROM jp WHERE jaccard >= 0.5) e
         |  USING (doc_a, doc_b)""".stripMargin,
    "x_dedup_exact" ->
      """SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_unique,
        |       count(*) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents GROUP BY lang""".stripMargin,
    "x_dedup_keep_list" ->
      "SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)",
    // The perturbed view restated in SQL (same doc_id arithmetic), raw vs
    // canonicalized key — both engines' md5 is lowercase hex, both regexes
    // are the global '\s+' collapse, and case folding is the ASCII-only
    // translate on BOTH sides (engine/locale-independent; see
    // dedupNormalized's scaladoc on why Unicode upper/lower is not safe
    // to round-trip across JDK vs utf8proc).
    "x_dedup_norm" ->
      """WITH p AS (SELECT doc_id, lang, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, lang,
        |                  translate(text, 'abcdefghijklmnopqrstuvwxyz',
        |                                  'ABCDEFGHIJKLMNOPQRSTUVWXYZ')
        |           FROM documents WHERE doc_id % 7 = 3
        |           UNION ALL
        |           SELECT doc_id + 2000000, lang, regexp_replace(text, ' ', '  ', 'g')
        |           FROM documents WHERE doc_id % 7 = 5),
        |k AS (SELECT lang, md5(text) AS rawh,
        |             md5(trim(regexp_replace(
        |               translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |                               'abcdefghijklmnopqrstuvwxyz'),
        |               '\s+', ' ', 'g'))) AS normh
        |      FROM p)
        |SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT rawh) AS n_raw_unique,
        |       count(DISTINCT normh) AS n_norm_unique,
        |       count(DISTINCT rawh) - count(DISTINCT normh) AS n_variant_groups
        |FROM k GROUP BY lang""".stripMargin,
    "x_dup_spans" ->
      s"""WITH ${dupSpanCtes()}
         |SELECT doc_id, span_start, span_end, span_tokens FROM spans""".stripMargin,
    "x_dup_span_scrub" ->
      s"""WITH ${dupSpanCtes(" WHERE doc_id <> mn")},
         |cover AS (SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos FROM spans),
         |allpos AS (SELECT doc_id, unnest(range(0, len(w))) AS pos FROM tok),
         |keptpos AS (SELECT a.doc_id, a.pos FROM allpos a
         |            ANTI JOIN cover c ON a.doc_id = c.doc_id AND a.pos = c.pos),
         |kept AS (SELECT k.doc_id, array_agg(t.w[k.pos + 1] ORDER BY k.pos) AS kw
         |         FROM keptpos k JOIN tok t USING (doc_id) GROUP BY k.doc_id)
         |SELECT t.doc_id,
         |       CAST(len(t.w) AS INTEGER) AS n_tokens_before,
         |       CAST(COALESCE(len(k.kw), 0) AS INTEGER) AS n_tokens_after,
         |       md5(COALESCE(array_to_string(k.kw, ' '), '')) AS kept_hash
         |FROM tok t LEFT JOIN kept k USING (doc_id)""".stripMargin,
    "x_dup_span_stats" ->
      s"""WITH ${dupSpanCtes()},
         |per_doc AS (
         |  SELECT doc_id, SUM(span_tokens) AS dup_tokens FROM spans GROUP BY doc_id)
         |SELECT d.source,
         |       count(*) AS n_docs,
         |       CAST(SUM(CASE WHEN p.dup_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_dups,
         |       CAST(SUM(COALESCE(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
         |       CAST(SUM(len(regexp_extract_all(d.text, '\\S+'))) AS BIGINT) AS total_tokens
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |GROUP BY d.source""".stripMargin,
    "x_jaccard_pairs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(regexp_extract_all(text,'\S+'))),
        |           i -> regexp_extract_all(text,'\S+')[i] || ' ' || regexp_extract_all(text,'\S+')[i+1])) AS bg
        |  FROM documents WHERE doc_id < 300)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / len(list_distinct(a.bg || b.bg)) AS jaccard
        |FROM t a, t b
        |WHERE a.doc_id < b.doc_id AND len(a.bg) > 0 AND len(b.bg) > 0
        |  AND CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / len(list_distinct(a.bg || b.bg)) > 0""".stripMargin,
    "x_containment_pairs" ->
      s"""WITH raw AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 300
         |  UNION ALL
         |  SELECT doc_id + $CONT_WRAP_OFFSET,
         |         text || ' ' || array_to_string(list_transform(range(0, $CONT_PAD_WORDS),
         |           i -> substring(md5(text || '#w' || i), 1, 6)), ' ')
         |  FROM documents WHERE doc_id < 300 AND doc_id % $CONT_WRAP_MOD = 4),
         |t AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(1, len(regexp_extract_all(text,'\\S+'))),
         |           i -> regexp_extract_all(text,'\\S+')[i] || ' ' || regexp_extract_all(text,'\\S+')[i+1])) AS bg
         |  FROM raw),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(len(list_intersect(a.bg, b.bg)) AS BIGINT) AS n_shared,
         |         CAST(len(a.bg) AS BIGINT) AS n_a, CAST(len(b.bg) AS BIGINT) AS n_b
         |  FROM t a, t b
         |  WHERE a.doc_id < b.doc_id AND len(a.bg) > 0 AND len(b.bg) > 0)
         |SELECT doc_a, doc_b, n_shared, n_a, n_b,
         |       (n_shared * 1000000) // least(n_a, n_b) AS containment_ppm,
         |       (n_shared * 1000000) // (n_a + n_b - n_shared) AS jaccard_ppm
         |FROM p
         |WHERE (n_shared * 1000000) // least(n_a, n_b) >= $CONT_TAU_PPM""".stripMargin,
    "x_boilerplate_grams" ->
      s"""WITH ${boilerCtes()}
         |SELECT source,
         |       count(DISTINCT g) AS n_boiler_grams,
         |       count(DISTINCT doc_id) AS n_docs_hit,
         |       count(*) AS n_positions
         |FROM hit GROUP BY source""".stripMargin,
    "x_boilerplate_scrub" ->
      s"""WITH ${boilerCtes()},
         |brk AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $BOILER_GRAM
         |              THEN 1 ELSE 0 END AS brk
         |  FROM (SELECT DISTINCT doc_id, pos FROM hit)),
         |isl AS (
         |  SELECT doc_id, pos,
         |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM brk),
         |spans AS (
         |  SELECT doc_id, min(pos) AS s0, max(pos) + ${BOILER_GRAM - 1} AS s1
         |  FROM isl GROUP BY doc_id, island),
         |cover AS (SELECT doc_id, unnest(range(s0, s1 + 1)) AS pos FROM spans),
         |affected AS (SELECT DISTINCT doc_id FROM hit),
         |allpos AS (SELECT t.doc_id, unnest(range(0, len(t.w))) AS pos
         |           FROM tok t JOIN affected USING (doc_id)),
         |keptpos AS (SELECT a.doc_id, a.pos FROM allpos a
         |            ANTI JOIN cover c ON a.doc_id = c.doc_id AND a.pos = c.pos),
         |kept AS (SELECT k.doc_id, array_agg(t.w[k.pos + 1] ORDER BY k.pos) AS kw
         |         FROM keptpos k JOIN tok t USING (doc_id) GROUP BY k.doc_id)
         |SELECT t.doc_id,
         |       CAST(len(t.w) AS INTEGER) AS n_tokens_before,
         |       CAST(COALESCE(len(k.kw), 0) AS INTEGER) AS n_tokens_after,
         |       md5(COALESCE(array_to_string(k.kw, ' '), '')) AS kept_hash
         |FROM tok t JOIN affected USING (doc_id) LEFT JOIN kept k USING (doc_id)""".stripMargin
  )

  /** Shared CTE chain for the boilerplate oracles: per-source gram
    * positions → frequency-floored boilerplate grams → covered positions
    * (`hit`). Mirrors [[boilerGramPositions]]/[[boilerGrams]] token for
    * token. */
  private def boilerCtes(): String =
    s"""tok AS (
       |  SELECT doc_id, source, regexp_extract_all(lower(text), '\\S+') AS w FROM documents),
       |gp AS (
       |  SELECT doc_id, source,
       |         unnest(range(0, greatest(len(w) - ${BOILER_GRAM - 1}, 0))) AS pos,
       |         unnest(list_transform(range(0, greatest(len(w) - ${BOILER_GRAM - 1}, 0)),
       |           i -> md5(array_to_string(w[i+1 : i+$BOILER_GRAM], ' ')))) AS g
       |  FROM tok),
       |bg AS (
       |  SELECT source, g FROM (
       |    SELECT source, g, count(*) AS n_docs_with
       |    FROM (SELECT DISTINCT source, g, doc_id FROM gp)
       |    GROUP BY source, g)
       |  WHERE n_docs_with >= $BOILER_MIN_DOCS),
       |hit AS (SELECT gp.doc_id, gp.source, gp.pos, gp.g FROM gp JOIN bg USING (source, g))""".stripMargin
}
