package org.apache.spark.sql

import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.graftbridge.DotProduct

/** Column constructors for graft's native Catalyst expressions.
  *
  * Lives inside `org.apache.spark.sql` only to reach the package-private
  * Expression -> Column bridge (`ExpressionUtils.column`); Spark 4 removed
  * the public `Column(expr)` constructor. No Spark internals are modified —
  * this is the minimal shim every expression-library (e.g. spark-daria,
  * itachi) uses. Works in ANY session, no SparkSessionExtensions
  * registration required.
  */
package object graftbridge {

  /** A child of `s` that starts with its runtime conf, temp views, UDFs and
    * session extensions; conf written on the child never reaches `s`. */
  def cloneSession(s: SparkSession): SparkSession = s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Codegen'd dot product of two array<double> columns (see
    * [[graftbridge.DotProduct]]). */
  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd argmax-dot-product centroid assignment, ties to the lowest
    * index (see [[graftbridge.NearestCentroid]]). */
  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    ExpressionUtils.column(
      NearestCentroid(ExpressionUtils.expression(v), centroids.map(_.toSeq).toSeq))

  /** Codegen'd argmax assignment WITHIN a flat centroid table's per-cell
    * slice — the fine step of a two-level quantizer (see
    * [[graftbridge.NearestCentroidSlice]]). */
  def nearestCentroidSlice(v: Column, cell: Column,
      centroids: Array[Array[Double]], sliceLen: Int): Column =
    ExpressionUtils.column(NearestCentroidSlice(
      ExpressionUtils.expression(v), ExpressionUtils.expression(cell),
      centroids.map(_.toSeq).toSeq, sliceLen))

  /** Codegen'd merge-count of two SORTED distinct array<string> columns
    * (see [[graftbridge.SortedIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Single-byte-scan whitespace-token counter (see
    * [[graftbridge.TokenCount]]); the RewriteTokenCount optimizer rule
    * produces it automatically from the regexp idiom in sessions built
    * with GraftExtensions. */
  def tokenCount(c: Column): Column =
    ExpressionUtils.column(TokenCount(ExpressionUtils.expression(c)))

  /** All hyperplane-LSH bucket ids of an embedding column in one codegen'd
    * pass (see [[graftbridge.LshBuckets]]). */
  def lshBuckets(c: Column, planes: Array[Array[Double]], bits: Int): Column =
    ExpressionUtils.column(LshBuckets(ExpressionUtils.expression(c), planes, bits))

  /** Max multiplicity of any element in an array<string> column — one
    * codegen-friendly hash pass (see [[graftbridge.MaxElementCount]]). */
  def maxElementCount(c: Column): Column =
    ExpressionUtils.column(MaxElementCount(ExpressionUtils.expression(c)))

  /** Full 60-bit SimHash of a token array in one codegen'd pass (see
    * [[graftbridge.SimhashBits]]). */
  def simhashBits(c: Column): Column =
    ExpressionUtils.column(SimhashBits(ExpressionUtils.expression(c)))

  /** `words`-word (60 bits each) wide SimHash signature of a token array —
    * one codegen'd pass, one md5 per token (see
    * [[graftbridge.SimhashWide]] for the width-vs-corpus sizing rule). */
  def simhashWideBits(c: Column, words: Int): Column =
    ExpressionUtils.column(SimhashWide(ExpressionUtils.expression(c), words))

  /** Per-frame PCM energy envelope of a binary payload — i16le samples
    * from `dataOffset`, |sample| summed per `frameSamples`-sample frame,
    * one codegen'd byte pass (see [[graftbridge.PcmFrameEnergies]]). */
  def pcmFrameEnergies(c: Column, dataOffset: Int, frameSamples: Int): Column =
    ExpressionUtils.column(
      PcmFrameEnergies(ExpressionUtils.expression(c), dataOffset, frameSamples))

  /** The audio family's fixture clip builder — header ++ `frames`
    * md5-derived 16-byte frames, optional clone perturbation — one
    * codegen'd pass (see [[graftbridge.WavFixtureClip]]). */
  def wavFixtureClip(text: Column, docId: Column, header: Array[Byte], frames: Int,
      seed: String, asClone: Boolean, cloneMod: Int, pertDelta: Int): Column =
    ExpressionUtils.column(WavFixtureClip(
      ExpressionUtils.expression(text), ExpressionUtils.expression(docId),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(header.clone()),
      frames, seed, asClone, cloneMod, pertDelta))

  /** The image family's REAL-codec fixture builder — a cell-aligned
    * grayscale PNG whose planted cell grays are md5-derived, optional
    * clone perturbation — one codegen'd pass (see
    * [[graftbridge.PngFixtureImage]]). */
  def pngFixtureImage(text: Column, docId: Column, rows: Int, cols: Int, cellPx: Int,
      seed: String, asClone: Boolean, cloneMod: Int, pertDelta: Int): Column =
    ExpressionUtils.column(PngFixtureImage(
      ExpressionUtils.expression(text), ExpressionUtils.expression(docId),
      rows, cols, cellPx, seed, asClone, cloneMod, pertDelta))

  /** The video family's REAL-codec fixture builder — an animated GIF of
    * cell-aligned grayscale frames with md5-derived planted grays,
    * optional trim+replace clone edit — one codegen'd pass (see
    * [[graftbridge.GifFixtureVideo]]). */
  def gifFixtureVideo(text: Column, docId: Column, frames: Int, rows: Int, cols: Int,
      cellPx: Int, seed: String, replaceSeed: String,
      asClone: Boolean, cloneMod: Int): Column =
    ExpressionUtils.column(GifFixtureVideo(
      ExpressionUtils.expression(text), ExpressionUtils.expression(docId),
      frames, rows, cols, cellPx, seed, replaceSeed, asClone, cloneMod))

  /** All n-token-gram md5 hex fingerprints of a token array in one
    * codegen'd byte pass (see [[graftbridge.NgramMd5]]). */
  /** Unicode NFC normalization with an ASCII zero-allocation fast path
    * (see [[graftbridge.NfcNormalize]]). */
  def nfcNormalize(c: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(c)))

  def ngramMd5(c: Column, n: Int): Column =
    ExpressionUtils.column(NgramMd5(ExpressionUtils.expression(c), n))

  /** All consecutive character bigrams of a string in one codepoint pass
    * (see [[graftbridge.CharBigrams]] — the O(chars²) per-position substr
    * formulation it replaces is the spec's parity reference). */
  def charBigrams(c: Column): Column =
    ExpressionUtils.column(CharBigrams(ExpressionUtils.expression(c)))

  /** Spark's own runtime-filter Bloom aggregate (catalyst
    * `BloomFilterAggregate` over `xxhash64(c)`), surfaced as a regular
    * aggregate Column: builds a serialized
    * `org.apache.spark.util.sketch.BloomFilter` sized for
    * `expectedItems` distinct values. Pair with [[bloomMightContain]]. */
  def bloomFilterAgg(c: Column, expectedItems: Long): Column =
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(ExpressionUtils.expression(c))),
        expectedItems).toAggregateExpression())

  /** Membership probe against a driver-held serialized Bloom filter —
    * catalyst `BloomFilterMightContain` (codegen'd; the filter bytes ride
    * the plan as a Literal, broadcast with the task binary exactly like
    * Spark's injected runtime filters). May return true for absent values
    * (p_fp by sizing), never false for present ones — callers keep an
    * exact verify behind it. */
  def bloomMightContain(bloomBytes: Array[Byte], c: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloomBytes, org.apache.spark.sql.types.BinaryType),
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(ExpressionUtils.expression(c)))))
}
