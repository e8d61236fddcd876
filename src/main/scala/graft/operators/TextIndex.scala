package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus indexing / keyword extraction over a text column — the term-level
  * statistics retrieval and curation pipelines need (tf, df, per-doc top
  * terms). Everything is integer-exact (tf-idf weighting is a consumer-side
  * multiply; `ln` is deliberately left out of engine outputs so results stay
  * bit-comparable across engines).
  */
object TextIndex {

  /** (doc, term, tf) posting table: one narrow explode + count — the
    * inverted index both similarity joins and retrieval build on. Terms are
    * whitespace tokens (with multiplicity).
    */
  def postings(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
        explode(TextFunctions.tokensWs(text)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Corpus-level term stats: document frequency + total term frequency. */
  def termStats(df: DataFrame, id: Column, text: Column): DataFrame =
    postings(df, id, text)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))

  /** Incremental index maintenance: fold one ingest batch into a
    * maintained posting table without rebuilding it. Documents present in
    * the batch REPLACE their state postings (re-ingestion = the document
    * changed); everything else carries over untouched. This is the
    * indexing twin of [[Dedup]]'s incremental state pattern: at 100 TB the
    * index is orders of magnitude larger than any batch, so per-batch cost
    * must be O(state ⋈ batch-ids) + O(batch), never O(corpus re-tokenize).
    *
    * Scale shape: the batch's doc-id set is tiny and broadcasts into the
    * anti-join (8-byte keys; with the state bucketed by doc_id the probe
    * is shuffle-free); only the batch pays tokenization. The union is
    * plan-level — no data moves for it.
    */
  def postingsIncremental(statePostings: DataFrame, batch: DataFrame,
      id: Column, text: Column): DataFrame =
    postingsIncrementalFrom(statePostings,
      batch.select(id.as("doc_id")),
      postings(batch, id, text))

  /** [[postingsIncremental]] with the batch's pieces precomputed — the
    * form streaming ingestion uses so the batch is tokenized exactly once
    * (the delta is already pinned there). `batchIds` MUST come from the
    * raw batch frame, not from `batchPostings`: a re-ingested document
    * whose new text is EMPTY has no posting rows, but its stale state
    * postings still have to go — deriving the replace-key set from the
    * postings would silently keep them.
    */
  def postingsIncrementalFrom(statePostings: DataFrame, batchIds: DataFrame,
      batchPostings: DataFrame): DataFrame =
    statePostings
      .join(broadcast(batchIds.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
      .unionByName(batchPostings)

  /** Manifest of a persisted posting index: row/doc counts, the BM25
    * corpus size N the serve path needs (ALL docs, including blank ones
    * with no postings), and an order/partitioning-free content digest
    * (XOR of per-row xxhash64 fingerprints — any reordering, re-bucketing
    * or re-splitting of the same postings digests identically; any
    * dropped, duplicated or altered row does not).
    */
  final case class IndexManifest(nPostings: Long, nDocs: Long,
      corpusSize: Long, digest: Long,
      formatVersion: Int = IndexFormatVersion)

  /** Layout version written into every manifest and REFUSED on mismatch
    * at load: the digest certifies content integrity but says nothing
    * about what the bytes MEAN — a future change to the posting layout
    * (column semantics, tf scaling, tokenization contract) must make old
    * state unreadable-by-refusal, never silently misfolded into a wrong
    * answer. Bump this whenever the persisted layout's meaning changes.
    */
  val IndexFormatVersion: Int = 1

  /** The manifest a posting frame WOULD get — also the staleness probe:
    * compare a saved manifest against `indexDigest(freshBuild, n)` to
    * decide whether the persisted index still matches the corpus before
    * serving from it.
    */
  def indexDigest(postings: DataFrame, corpusSize: Long): IndexManifest = {
    val r = postings.agg(
      count(lit(1)).as("n"),
      count_distinct(col("doc_id")).as("d"),
      coalesce(expr("bit_xor(xxhash64(doc_id, term, tf))"), lit(0L))
        .as("x")).head()
    IndexManifest(r.getLong(0), r.getLong(1), corpusSize, r.getLong(2))
  }

  private val GenPrefix = "gen-"
  private val CommitMarker = "_COMMITTED"

  private def genIdOf(path: String): Option[Long] = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    if (name.startsWith(GenPrefix)) name.drop(GenPrefix.length).toLongOption
    else None
  }

  private def genIds(fs: graft.engine.FsUtils, dir: String): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty else fs.ls(dir).flatMap(genIdOf)

  private def genPath(dir: String, id: Long): String =
    f"$dir/$GenPrefix$id%06d"

  /** Resolve the directory actually serving `dir`'s index: the
    * highest-numbered `gen-NNNNNN` child carrying the `_COMMITTED`
    * marker, falling back to the legacy flat layout (`postings` +
    * `manifest` directly under `dir`, written by pre-generation builds)
    * when no committed generation exists. Public so tooling/specs can
    * address the live component files without re-deriving the layout.
    */
  def liveDir(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val fs = new graft.engine.FsUtils(spark)
    genIds(fs, dir)
      .filter(id => fs.exists(s"${genPath(dir, id)}/$CommitMarker"))
      .maxOption match {
      case Some(id) => genPath(dir, id)
      case None => dir
    }
  }

  /** Persist a posting index for serving: postings parquet + a one-row
    * manifest, written as one COMMITTED GENERATION —
    * `$dir/gen-NNNNNN/{postings,manifest}` fully written first, then a
    * single `_COMMITTED` marker file created inside the generation as
    * the one atomic commit point (ADVICE r19: the previous two-rename
    * swap had a crash window that left NEW postings under the OLD
    * manifest, which only the digest-auditing load refused — with both
    * components committed together, no torn combination is addressable).
    * [[liveDir]] resolves the highest committed generation, so every
    * crash point leaves a consistent, servable index:
    *
    *  - mid-write or pre-marker crash: the half-built generation has no
    *    marker, loads keep serving the previous one (stale-but-right);
    *    the next save numbers PAST the torn dir and supersedes it.
    *  - post-marker crash (during pruning): two committed generations
    *    exist, loads serve the newest; leftover dirs are garbage, not
    *    hazard, and the next save's prune clears them.
    *
    * SELF-OVERWRITE stays safe (the incremental steady state: load →
    * [[postingsIncremental]] → save): the input plan scans the OLD
    * generation's files, which are pruned only after the new postings
    * are fully written and committed.
    *
    * The digest is computed from the files JUST WRITTEN (one re-scan of
    * the compact posting table), so the manifest certifies the bytes on
    * disk rather than the plan that produced them. This is the
    * amortization boundary a production ingest runs at: fold batches with
    * [[postingsIncremental]], save once per ingest cycle, and serve every
    * query off the loaded table with no corpus re-tokenization.
    */
  def saveIndex(postings: DataFrame, dir: String,
      corpusSize: Long): IndexManifest = {
    val spark = postings.sparkSession
    import spark.implicits._
    val fs = new graft.engine.FsUtils(spark)
    // number past EVERY existing generation, committed or torn — reusing
    // a torn dir's id would race its leftover files into the new write
    val next = genIds(fs, dir).maxOption.getOrElse(0L) + 1
    val gen = genPath(dir, next)
    postings.select(col("doc_id"), col("term"), col("tf"))
      .write.mode("overwrite").parquet(s"$gen/postings")
    val m = indexDigest(spark.read.parquet(s"$gen/postings"), corpusSize)
    Seq(m).toDS().write.mode("overwrite").parquet(s"$gen/manifest")
    fs.write(s"$gen/$CommitMarker", "") // the commit point
    // prune superseded generations and any legacy flat/staged layout; a
    // crash anywhere in here is harmless (load resolves the newest
    // committed generation). A deployment serving concurrent readers
    // during saves would delay this prune by one cycle; single-writer
    // ingest-then-serve (this engine's contract) reclaims eagerly.
    genIds(fs, dir).filter(_ < next)
      .foreach(id => fs.rm(genPath(dir, id)))
    Seq("postings", "manifest", "postings.old", "manifest.old", ".staging")
      .foreach(n => fs.rm(s"$dir/$n"))
    m
  }

  /** Load a persisted index: (postings frame, manifest). Lazy — nothing
    * is scanned until the serve plan runs. Resolves the live committed
    * generation via [[liveDir]] (torn combinations are unaddressable by
    * construction; a LEGACY flat-layout dir is served as-is, where the
    * old two-rename torn window is exactly what [[loadIndexVerified]]'s
    * digest audit refuses). Refuses a manifest whose
    * [[IndexFormatVersion]] differs from this build's: a layout change
    * must surface as an explicit re-index, never as silently misread
    * postings. (Content integrity is [[loadIndexVerified]]'s job — this
    * check costs only the one-row manifest read.)
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      dir0: String): (DataFrame, IndexManifest) = {
    val dir = liveDir(spark, dir0)
    // the version check must fire BEFORE any typed decode: a
    // pre-versioning manifest has no formatVersion column at all, and the
    // IndexManifest encoder would throw an unrelated AnalysisException
    // instead of the documented refusal. Missing = written by an older
    // layout = refused (the versionedStateTable contract); state KNOWN to
    // be layout-identical migrates by one explicit re-save, never by a
    // silent assumption. ONE collect serves both the check and the
    // manifest — this runs on the serving path.
    val raw = spark.read.parquet(s"$dir/manifest")
    val row = raw.head()
    val idx = raw.columns.indexOf("formatVersion")
    val v = if (idx >= 0) row.getInt(idx).toString else "<missing>"
    require(v == IndexFormatVersion.toString,
      s"persisted index at $dir has format version $v; this build reads " +
        s"version $IndexFormatVersion — refusing to serve (rebuild the " +
        "index with saveIndex)")
    def l(name: String) = row.getLong(raw.columns.indexOf(name))
    (spark.read.parquet(s"$dir/postings"),
      IndexManifest(l("nPostings"), l("nDocs"), l("corpusSize"),
        l("digest")))
  }

  /** [[loadIndex]] + an integrity audit: recompute the digest over the
    * loaded files and refuse to serve when it diverges from the manifest
    * (corrupted, truncated, or concurrently-rewritten postings). Costs one
    * scan of the posting table — run it at load time, not per query.
    */
  def loadIndexVerified(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, IndexManifest) = {
    val (p, m) = loadIndex(spark, dir)
    val found = indexDigest(p, m.corpusSize)
    require(found == m,
      s"persisted index at $dir does not match its manifest (corrupt or " +
        s"concurrently modified): manifest $m, on disk $found")
    (p, m)
  }

  /** Sliding token-window chunks for embedding/generation pipelines: windows
    * of `window` whitespace tokens advancing by `stride` (overlap = window −
    * stride), the final window clamped to the text end; documents shorter
    * than one window yield a single whole-text chunk. A pure projection —
    * chunk count per doc ≈ tokens/stride, so the expansion is bounded and
    * no shuffle is introduced; pair with [[graft.operators.Sampling]] /
    * dedup BEFORE chunking so duplicates aren't embedded twice.
    */
  def chunkTokens(text: Column, window: Int, stride: Int): Column = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toks = graft.functions.TextFunctions.tokensWs(text)
    val n = size(toks)
    val nChunks = when(n <= window, lit(1))
      .otherwise(ceil((n - window).cast("double") / stride).cast("int") + 1)
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * stride + 1, lit(window)), " "))
  }

  /** (id, chunk_id, chunk) rows from [[chunkTokens]]. */
  def chunks(df: DataFrame, id: Column, text: Column,
      window: Int, stride: Int): DataFrame =
    df.select(id.as("id"),
        posexplode(chunkTokens(text, window, stride)).as(Seq("chunk_id", "chunk")))

  /** Repetition-based quality stats (the Gopher/C4-style duplicate-content
    * signals): per document, the number of `sep`-separated segments, the
    * distinct count, the duplicate-segment fraction, and the fraction of
    * segments taken by the single most repeated one. Exact integer-ratio
    * doubles. Two groupBys over (doc, segment-hash)-sized rows — no segment
    * text needs to survive the first aggregation at scale, and no window.
    */
  def repetitionStats(df: DataFrame, id: Column, text: Column,
      sep: String = "\\. "): DataFrame =
    df.select(id.as("id"), explode(split(text, sep)).as("seg"))
      .groupBy(col("id"), col("seg")).agg(count(lit(1)).as("n"))
      .groupBy(col("id"))
      .agg(sum(col("n")).as("n_seg"), count(lit(1)).as("n_uniq"),
        max(col("n")).as("top_n"))
      .select(col("id"), col("n_seg"), col("n_uniq"),
        ((col("n_seg") - col("n_uniq")).cast("double") /
          col("n_seg").cast("double")).as("dup_frac"),
        (col("top_n").cast("double") / col("n_seg").cast("double")).as("top_frac"))

  /** Top-k terms per document by (tf desc, term asc) — deterministic
    * keyword extraction; `minLen` drops short stop-ish tokens.
    */
  def topTermsPerDoc(df: DataFrame, id: Column, text: Column, k: Int,
      minLen: Int = 1): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("term"))
    postings(df, id, text)
      .filter(length(col("term")) >= minLen)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("rank").cast("int").as("rank"))
  }

  /** Top-k terms per document by tf-idf-style relevance `tf · (N / df)`:
    * rarer-in-corpus terms outrank raw frequency. The weight is a ratio of
    * exact integers (a single IEEE division — identical in any engine), not
    * `ln`, so relevance outputs stay bit-comparable with the oracle; a
    * consumer wanting the logarithmic damping applies it on top.
    *
    * Scale shape: the df dim is one row per DISTINCT CORPUS TERM — Heaps'
    * law puts that in the hundreds of millions at 100 TB, so it carries NO
    * broadcast hint; the planner shuffle-joins on `term` (partial-aggregated
    * dim side, AQE upgrades to broadcast adaptively when the dictionary is
    * actually small). The corpus size N rides along as a one-row broadcast
    * dim instead of a separate driver-side count() job, so the whole
    * operator is one plan. The per-doc rank window partitions on doc_id
    * with per-doc input bounded by document length.
    */
  def relevantTerms(df: DataFrame, id: Column, text: Column, k: Int,
      minLen: Int = 1): DataFrame = {
    val p = postings(df, id, text).filter(length(col("term")) >= minLen)
    val nDim = df.agg(count(lit(1)).as("__n"))
    val dfDim = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("relevance").desc, col("term"))
    p.join(dfDim, Seq("term"))
      .crossJoin(broadcast(nDim))
      .withColumn("relevance",
        col("tf").cast("double") *
          (col("__n").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("int").as("rank"), col("term"),
        col("tf"), col("df"), col("relevance"))
  }

  /** Cross-document segment dedup — the C4/RefinedWeb "line-level dedup"
    * adapted to unstructured token streams: split each document into
    * non-overlapping `window`-token segments, drop every segment whose
    * distinct-document frequency exceeds `maxDf` (boilerplate shared across
    * documents), and reassemble the survivors in original order. Output:
    * (id, n_seg, n_kept, clean_text); n_kept = 0 yields an empty string
    * (the caller decides whether to drop hollowed-out docs).
    *
    * Scale shape: the df count shuffles only (segment-fingerprint, id)
    * longs, never segment text; the boilerplate set — small by construction
    * (segments repeated across > maxDf docs) — broadcasts back as an 8-byte
    * fingerprint filter, so document bodies shuffle exactly once, for the
    * per-doc reassembly groupBy.
    */
  def segmentDedup(df: DataFrame, id: Column, text: Column,
      window: Int = 16, maxDf: Long = 1): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val segs = chunks(df, id, text, window, window)
      .select(col("id"), col("chunk_id"), col("chunk"),
        TextFunctions.fingerprint64(col("chunk")).as("sfp"))
    dedupeSegments(segs, maxDf)
  }

  /** [[segmentDedup]] over content-defined chunks instead of fixed
    * windows: because [[cdcChunks]] boundaries are functions of local
    * content, the SAME duplicated passage chunks identically in every
    * document that contains it even when it sits at different offsets —
    * fixed windows only catch boilerplate that happens to be
    * stride-aligned. Same df-count + broadcast-hot-set + reassembly
    * shape, same output: (id, n_seg, n_kept, clean_text).
    */
  def cdcSegmentDedup(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, maskBits: Int = 6, maxDf: Long = 1): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val segs = cdcChunks(df, id, text, shingleK, maskBits)
      .select(col("id"), col("chunk_idx").as("chunk_id"),
        col("chunk_text").as("chunk"), col("chunk_fp").as("sfp"))
    dedupeSegments(segs, maxDf)
  }

  /** Shared boilerplate-removal tail: count each segment fingerprint's
    * distinct-document frequency, broadcast the (small by construction)
    * hot set back as an 8-byte-fp filter, and reassemble survivors in
    * chunk order. `segs`: (id, chunk_id, chunk, sfp).
    */
  private def dedupeSegments(segs: DataFrame, maxDf: Long): DataFrame = {
    val hot = segs.select(col("sfp"), col("id")).distinct()
      .groupBy(col("sfp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("sfp"), lit(1).as("__hot"))
    segs.join(broadcast(hot), Seq("sfp"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("__hot").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
            when(col("__hot").isNull, struct(col("chunk_id"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("clean_text"))
  }

  /** Content-defined chunking: split each document at token positions
    * where the local k-gram hash satisfies a modulus condition — see
    * [[org.apache.spark.sql.graft.CdcChunks]]. Where [[chunks]]' fixed
    * stride shifts every downstream segment when one token is inserted,
    * CDC boundaries are functions of local content, so an edit reshapes
    * only the chunks it touches — which is what makes CHUNK-level dedup
    * (run [[Dedup.exact]] or [[segmentDedup]]-style df counting on
    * `chunk_fp`) robust to insertions at 100 TB. Expected chunk length
    * ≈ 2^maskBits tokens.
    *
    * Map-only: one native compiled pass per document, then an explode of
    * (start, n_tok, text) structs — no shuffle, no window; the chunk
    * fingerprint is the codegen'd md5 builtin over the chunk text.
    * Output: (id, chunk_idx, start_tok, n_tok, chunk_text, chunk_fp).
    */
  def cdcChunks(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, maskBits: Int = 6): DataFrame =
    Dedup.widen(df)
      .select(id.as("id"), posexplode(
        org.apache.spark.sql.graft.HashFunctions.cdcChunks(
          TextFunctions.tokensWs(text), shingleK, maskBits))
        .as(Seq("__pos", "c")))
      .select(col("id"), (col("__pos") + 1).as("chunk_idx"),
        col("c.start_tok").as("start_tok"), col("c.n_tok").as("n_tok"),
        col("c.chunk_text").as("chunk_text"),
        TextFunctions.fingerprint64(col("c.chunk_text")).as("chunk_fp"))

  /** Positional word n-grams hashed to 60-bit fingerprints: (id, pos, gfp)
    * with `pos` the 0-based start token. Shares [[TextFunctions.wordShingles]]
    * semantics (a document shorter than `n` tokens yields ONE whole-text
    * gram at pos 0), so profiles/masks agree with the shingle-based dedup
    * family. Gram hashing is the native one-pass
    * [[org.apache.spark.sql.graft.ShingleFps60]] expression — gram strings
    * never materialize in the plan, and the explode emits (pos, 8-byte fp)
    * directly.
    */
  private def positionalGrams(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame =
    Dedup.widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"),
        posexplode(org.apache.spark.sql.graft.HashFunctions.shingleFps60(
          TextFunctions.tokensWs(col("__text")), n)).as(Seq("pos", "gfp")))

  /** Corpus-level duplicated-n-gram profile — the measurement half of
    * exact-substring train-set dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499): for
    * each document, how many of its positional word `n`-grams also occur in
    * at least `minDf - 1` OTHER documents. High `dup_ratio` flags
    * boilerplate-heavy or templated docs before any text surgery. Output:
    * (id, total_ngrams, dup_ngrams, dup_ratio), ratio an exact
    * integer-ratio double.
    *
    * Scale shape: the df table aggregates (gfp, id) distinct pairs —
    * 16-byte rows, map-side partial — and the flag join is one equality
    * hash join on the 8-byte gfp; document text never shuffles. This is
    * the n-gram analogue of [[segmentDedup]]'s df count with overlapping
    * windows instead of disjoint segments.
    */
  def duplicateNgramProfile(df: DataFrame, id: Column, text: Column,
      n: Int = 5, minDf: Long = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val g = positionalGrams(df, id, text, n)
    val dup = g.select(col("gfp"), col("id")).distinct()
      .groupBy(col("gfp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("gfp"), lit(1).as("__dup"))
    g.join(dup, Seq("gfp"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("total_ngrams"),
        sum(when(col("__dup").isNotNull, 1L).otherwise(0L)).as("dup_ngrams"))
      .withColumn("dup_ratio",
        when(col("total_ngrams") > 0,
          col("dup_ngrams").cast("double") / col("total_ngrams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Corpus-level duplicated-n-gram REMOVAL — the surgery half of Lee et
    * al. 2022: a token is dropped when any corpus-duplicated `n`-gram
    * (document frequency >= `minDf`) covers it, i.e. starts at most `n-1`
    * tokens before it; survivors are rejoined with single spaces. This is
    * the deterministic remove-all-occurrences variant (the paper keeps one
    * occurrence; choosing which one is inherently order-dependent, so the
    * engine removes every occurrence — the convention C4 uses for its
    * line-level filter). Output: (id, n_tok, n_removed, clean_text).
    *
    * Scale shape: duplicated-gram START POSITIONS travel back to each doc
    * as (id, pos) ints via one semi-join on the 8-byte gfp + a groupBy id
    * (dup positions per doc are few unless the doc IS boilerplate); the
    * final coverage filter is a per-row array scan over (tokens ×
    * doc-local dup starts) — map-only, no second text shuffle.
    */
  def duplicateNgramMask(df: DataFrame, id: Column, text: Column,
      n: Int = 5, minDf: Long = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val base = Dedup.widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), TextFunctions.tokensWs(col("__text")).as("toks"))
    val g = base.select(col("id"),
      posexplode(org.apache.spark.sql.graft.HashFunctions.shingleFps60(
        col("toks"), n)).as(Seq("pos", "gfp")))
    val dup = g.select(col("gfp"), col("id")).distinct()
      .groupBy(col("gfp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("gfp"))
    val dpos = g.join(dup, Seq("gfp"), "left_semi")
      .groupBy(col("id")).agg(sort_array(collect_list(col("pos"))).as("dps"))
    maskCoveredTokens(base, dpos, n)
  }

  /** Shared surgery tail of [[duplicateNgramMask]] and [[exactSubstrDedup]]:
    * given `base` = (id, toks) and `dpos` = (id, dps = sorted start
    * positions of to-be-removed n-token spans), drop every covered token
    * and rejoin survivors. Linear coverage: scatter each removal start
    * into its covered index range (≤ n ints per span), subtract from the
    * position sequence with the hash-based array_except, and gather
    * survivors — O(tokens + n·spans) per doc, vs the O(tokens × spans) of
    * a per-token exists() scan (measured 2.6× on the boilerplate-heavy
    * synthetic corpus). Output: (id, n_tok, n_removed, clean_text).
    */
  private def maskCoveredTokens(base: DataFrame, dpos: DataFrame,
      n: Int): DataFrame =
    base.join(dpos, Seq("id"), "left")
      .withColumn("dps",
        coalesce(col("dps"), array().cast("array<int>")))
      .withColumn("covered", array_distinct(flatten(transform(col("dps"),
        s => sequence(s, least(s + lit(n - 1), size(col("toks")) - 1))))))
      .withColumn("keptPos",
        array_except(sequence(lit(0), size(col("toks")) - 1), col("covered")))
      .select(col("id"), size(col("toks")).as("n_tok"),
        (size(col("toks")) - size(col("keptPos"))).as("n_removed"),
        array_join(transform(col("keptPos"),
          p => element_at(col("toks"), p + 1)), " ").as("clean_text"))

  /** Exact-substring deduplication at token-span granularity (ExactSubstr,
    * Lee et al. 2022, arXiv:2107.06499 §4.1): every `n`-token span that
    * occurs MORE THAN ONCE in the corpus — across documents or repeated
    * within one — keeps only its globally FIRST occurrence (smallest
    * (id, pos)); every other occurrence's tokens are removed and the
    * survivors rejoined. This is the keep-one variant the paper specifies
    * (their canonical n = 50 BPE tokens ≈ whitespace words here), where
    * [[duplicateNgramMask]] is the remove-all-occurrences C4-style filter
    * — and unlike that operator it counts raw occurrences, so within-doc
    * repetition dedups too.
    *
    * Determinism: "first" is an exact min over (id, pos) structs — the
    * same on any partitioning; no suffix array is materialized (the
    * paper's implementation detail, not its semantics — rolling
    * fingerprints over positional spans find the same ≥ n-token repeats,
    * modulo 60-bit fp collisions, the accepted stance of every fp-keyed
    * text operator here).
    *
    * Spans are strictly `n` tokens: documents shorter than `n` carry no
    * span and are never masked (whole-short-doc duplicates are
    * [[graft.operators.Dedup]]'s job, not a substring's).
    *
    * Approximation note (standard for positional-span ExactSubstr): the
    * kept first occurrence is chosen per span independently — a doc's
    * kept span may itself sit inside a region removed by a DIFFERENT
    * span's dedup; the paper's byte-range union has the same property.
    *
    * Scale shape: one native ShingleFps60 pass emits (id, pos, 8-byte
    * gfp) — gram strings never materialize; ONE gfp-keyed count+min agg
    * (map-side partials) finds duplicated spans and their first
    * occurrences; the removal join is gfp-keyed equality (left to AQE —
    * a boilerplate-heavy corpus can have corpus-sized duplicate classes,
    * the no-forced-broadcast lesson); per-doc removal lists are bounded
    * by doc length. Text never shuffles after widen().
    */
  def exactSubstrDedup(df: DataFrame, id: Column, text: Column,
      n: Int = 50): DataFrame = {
    import org.apache.spark.sql.graft.HashFunctions
    require(n >= 2, s"n must be >= 2, got $n")
    // base feeds the span stream AND the final mask; g feeds the
    // first-occurrence agg AND the removal join — pin both, or the
    // corpus tokenize (+ ShingleFps60 hash) pass runs once per consumer
    // (the cooccurrenceCounts lesson); released at the caller's boundary
    // via graft.Pins.unpinAll
    val base = graft.Pins.pin(
      Dedup.widen(df.select(id.as("id"), text.as("__text")))
        .select(col("id"), TextFunctions.tokensWs(col("__text")).as("toks")))
    val g = graft.Pins.pin(base.filter(size(col("toks")) >= n)
      .select(col("id"),
        posexplode(HashFunctions.shingleFps60(col("toks"), n))
          .as(Seq("pos", "gfp"))))
    val firsts = g.groupBy(col("gfp"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("id"), col("pos"))).as("first"))
      .filter(col("occ") >= 2)
      .select(col("gfp"), col("first"))
    val dpos = g.join(firsts, Seq("gfp"))
      .filter(struct(col("id"), col("pos")) =!= col("first"))
      .groupBy(col("id")).agg(sort_array(collect_list(col("pos"))).as("dps"))
    maskCoveredTokens(base, dpos, n)
  }

  /** Cross-corpus exact n-gram contamination report — the train/eval
    * decontamination screen (GPT-3's 13-gram overlap filter, Brown et al.
    * 2020 appendix C; the exact-substring variant of Lee et al. 2022 §6.2):
    * for every TRAIN document, how many of its n-token spans occur verbatim
    * anywhere in the EVAL corpus. This is the span-level sibling of the
    * shingle-containment [[graft.operators.Dedup.containmentPairs]] screen
    * (which scores needle coverage) and the whole-doc
    * [[graft.operators.Dedup.bloomAntiJoin]] screen (which needs exact
    * equality): a single quoted benchmark passage inside a long web page
    * trips this one and neither of those.
    *
    * Output: one row per train document —
    * (id, n_spans, n_contam, contaminated) with `n_contam` the count of
    * train span POSITIONS whose n-gram is in the eval span set (a span
    * repeated inside one train doc counts each occurrence) and
    * `contaminated` = n_contam > 0. Documents shorter than `n` tokens have
    * zero spans and report clean — whole-short-doc contamination is the
    * exact/bloom screens' job.
    *
    * Scale shape: both corpora stream through ONE native
    * [[org.apache.spark.sql.graft.ShingleFps60]] pass each — gram strings
    * never materialize; the eval side collapses to DISTINCT 8-byte fps
    * (eval suites are MBs against a 100 TB train side — AQE broadcasts it;
    * nothing forces that, the flat-tail lesson); the contamination count
    * is one fp-keyed LEFT-SEMI join + per-doc count with map-side
    * partials. The tokenized train frame feeds the span stream and the
    * per-doc span totals, so it is pinned (released at the caller's
    * boundary via [[graft.Pins.unpinAll]]). Counts are exact modulo 60-bit
    * fp collisions — the accepted stance of every fp-keyed text operator
    * here, and the oracle hash-gate would catch one.
    */
  def crossSubstrContamination(train: DataFrame, trainId: Column,
      trainText: Column, eval: DataFrame, evalText: Column,
      n: Int = 13): DataFrame = {
    import org.apache.spark.sql.graft.HashFunctions
    require(n >= 2, s"n must be >= 2, got $n")
    val tb = graft.Pins.pin(
      Dedup.widen(train.select(trainId.as("id"), trainText.as("__text")))
        .select(col("id"), TextFunctions.tokensWs(col("__text")).as("toks")))
    val tg = tb.filter(size(col("toks")) >= n)
      .select(col("id"),
        explode(HashFunctions.shingleFps60(col("toks"), n)).as("gfp"))
    val eg = Dedup.widen(eval.select(evalText.as("__text")))
      .select(TextFunctions.tokensWs(col("__text")).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(explode(HashFunctions.shingleFps60(col("toks"), n)).as("gfp"))
      .distinct()
    val hits = tg.join(eg, Seq("gfp"), "semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_contam"))
    tb.select(col("id"),
        greatest(lit(0), size(col("toks")) - lit(n - 1)).cast("long")
          .as("n_spans"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"))
      .withColumn("contaminated", col("n_contam") > 0)
  }

  /** Bigram-familiarity quality signal — the n-gram-LM data filter (CCNet
    * lineage) reduced to exact integer form so it oracle-checks: each
    * document's adjacent word pairs are scored by their CORPUS frequency,
    * and the document reports how many of its bigrams are corpus-common
    * (frequency > 1, i.e. seen outside this occurrence) plus the total
    * frequency mass. Low `common_frac` flags garbled, boilerplate-free-
    * random, or wrong-domain text the unigram [[vocabCoverage]] filter
    * misses (every word common, no pair ever seen together). No logs or
    * smoothing — counts and ratios stay exact integers/integer-ratio
    * doubles (a float perplexity would hang the oracle on libm's last
    * ulp).
    *
    * Output: (id, n_bigrams, sum_freq, n_common, common_frac).
    *
    * Scale shape: same as [[backoffFamiliarity]] — bigrams become 8-byte
    * positional fingerprints in one native
    * [[org.apache.spark.sql.graft.ShingleFps60]] pass (the first version
    * built (w1, w2) STRING structs with an interpreted transform and no
    * widen(), shuffled the strings through both the count groupBy and the
    * scoring join, and measured 8× slower than the trigram scorer at
    * stress ×4); the count table keys on the fp with map-side partials;
    * text never shuffles after widen(). Counts are exact modulo 60-bit
    * fp collisions — the same accepted stance as every other fp-keyed
    * text operator here, and the oracle hash-gate would catch one.
    */
  def bigramFamiliarity(df: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graft.HashFunctions
    val base = Dedup.widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), TextFunctions.tokensWs(col("__text")).as("toks"))
    val bg = base.filter(size(col("toks")) >= 2)
      .select(col("id"),
        explode(HashFunctions.shingleFps60(col("toks"), 2)).as("g2"))
    val counts = bg.groupBy(col("g2")).agg(count(lit(1)).as("c"))
    val scored = bg.join(counts, Seq("g2"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("sum_freq"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_common"))
    base.select(col("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_freq"), lit(0L)).as("sum_freq"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("common_frac",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("n_common").cast("double") / col("n_bigrams").cast("double")))
  }

  /** Trigram familiarity with stupid backoff (Brants et al. 2007, in the
    * same exact-integer form as [[bigramFamiliarity]]): each positional
    * trigram is corpus-common if seen in >= 2 places; an uncommon trigram
    * BACKS OFF to its leading bigram and counts at the canonical 0.4
    * discount if that bigram is corpus-common. The per-doc score
    * `(n_tri_common + 0.4·n_backoff) / n_trigrams` separates "novel but
    * locally plausible" text from outright garble — the distinction a
    * single-order familiarity cannot make. Docs with < 3 tokens report
    * zeros (no trigram evidence), as in the bigram filter.
    *
    * Output: (id, n_trigrams, n_tri_common, n_backoff, familiarity).
    *
    * Scale shape: positional 3- and 2-gram fingerprints come from one
    * native [[org.apache.spark.sql.graft.ShingleFps60]] pass each,
    * position-aligned with arrays_zip (no self-join to pair a trigram
    * with its backoff bigram); both count tables key on 8-byte fps with
    * map-side partials; text never shuffles after widen().
    */
  def backoffFamiliarity(df: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graft.HashFunctions
    val base = Dedup.widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), TextFunctions.tokensWs(col("__text")).as("toks"))
    // (g3, g2) pairs aligned by start position: trigram i backs off to
    // the bigram starting at the same token
    val tri = base.filter(size(col("toks")) >= 3)
      .select(col("id"), explode(arrays_zip(
        HashFunctions.shingleFps60(col("toks"), 3),
        slice(HashFunctions.shingleFps60(col("toks"), 2), lit(1),
          size(col("toks")) - 2))).as("z"))
      .select(col("id"), col("z.0").as("g3"), col("z.1").as("g2"))
    val c3 = tri.groupBy(col("g3")).agg(count(lit(1)).as("c3"))
    val allBi = base.filter(size(col("toks")) >= 2)
      .select(explode(HashFunctions.shingleFps60(col("toks"), 2)).as("g2"))
    val c2 = allBi.groupBy(col("g2")).agg(count(lit(1)).as("c2"))
    val scored = tri.join(c3, Seq("g3")).join(c2, Seq("g2"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("c3") >= 2, 1L).otherwise(0L)).as("n_tri_common"),
        sum(when(col("c3") < 2 && col("c2") >= 2, 1L).otherwise(0L))
          .as("n_backoff"))
    base.select(col("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_tri_common"), lit(0L)).as("n_tri_common"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"))
      .withColumn("familiarity",
        when(col("n_trigrams") === 0, lit(0.0))
          .otherwise((col("n_tri_common").cast("double") +
            lit(0.4) * col("n_backoff").cast("double")) /
            col("n_trigrams").cast("double")))
  }

  /** Perplexity-proxy quality screen — the CCNet/Gopher n-gram-LM filter
    * (Wenzek et al. 2020 score docs with a KenLM and drop the
    * high-perplexity tail) restated in EXACT INTEGER BITS so the oracle
    * hash-gates it: each adjacent word pair is charged an integer
    * bit-cost under the corpus's own bigram model,
    *
    *   c2 ≥ 2  (pair seen elsewhere):  ⌊log2 c1(prev)⌋ − ⌊log2 (c2−1)⌋
    *   c2 = 1  (this occurrence only): 1 + ⌊log2 N⌋ − ⌊log2 c1(cur)⌋
    *
    * i.e. −log2 of the leave-one-out MLE bigram probability, backing off
    * to the unigram at a one-bit (≈ the stupid-backoff 0.4×) penalty,
    * with every log2 the exact floor `length(bin(x)) − 1` — identical in
    * any engine, no libm. The count self-exclusion (c2−1) is what makes
    * the screen non-degenerate on its own training corpus: raw MLE gives
    * every in-corpus bigram p ≥ 1/c1 and never exercises backoff. A doc's
    * score is total bits / scored positions — bits-per-token, the
    * perplexity exponent; `keep` flags docs at or under `thresholdBits`.
    * Unlike [[bigramFamiliarity]]'s common-pair fraction this weights HOW
    * predictable each transition is (a once-seen pair after a frequent
    * word costs ~log2 c1 bits, after a rare word almost nothing), which
    * is the actual LM-filter signal. Docs with < 2 tokens carry no
    * evidence and report zeros with keep = true, the familiarity
    * convention.
    *
    * Output: (id, n_scored, total_bits, bits_per_token, keep).
    *
    * Scale shape: tokens hash to positional 60-bit fingerprints in native
    * [[org.apache.spark.sql.graft.ShingleFps60]] passes (gram strings
    * never materialize); the bigram and unigram count tables are
    * vocabulary-sized fp-keyed aggregations with map-side partials; the
    * corpus token total broadcasts as one row. The position stream
    * (id + three 8-byte fps) makes three key-joins against those count
    * tables — nothing corpus-text-wide shuffles after widen(). At 100 TB
    * the model tables are the same Heaps-law-bounded dictionaries every
    * text operator here shuffles; scoring a NEW corpus against a FROZEN
    * model is the same plan with the count frames read from storage.
    * Counts are exact modulo 60-bit fp collisions — the accepted stance
    * of the fp-keyed text family, and the oracle hash-gate would catch
    * one at test SFs.
    */
  def lmPerplexityScreen(df: DataFrame, id: Column, text: Column,
      thresholdBits: Double = 12.0): DataFrame =
    lmScoreAgainst(df, id, text, bigramLmCounts(df, text), thresholdBits,
      selfCounts = true)

  /** The bigram LM as ONE storable count table: ('uni', token-fp, count),
    * ('bi', bigram-fp, count), plus the single ('n', 0, corpus-token-total)
    * row — the frozen-model artifact [[lmScoreAgainst]] consumes. Counts
    * are ADDITIVE, so incremental maintenance is [[foldLmCounts]] (union +
    * sum), not a rebuild: ingest a batch, fold its counts in, and the
    * folded table is bit-identical to a clean rebuild over the union
    * (LmModelSpec pins that).
    *
    * Scale shape: two fp-keyed 2-phase aggregations plus a one-row total —
    * the same vocabulary-sized exchanges as the familiarity operators;
    * text never shuffles after widen().
    */
  def bigramLmCounts(df: DataFrame, text: Column): DataFrame = {
    import org.apache.spark.sql.graft.HashFunctions
    val base = Dedup.widen(df.select(text.as("__text")))
      .select(TextFunctions.tokensWs(col("__text")).as("toks"))
    // size-guard: ShingleFps60 on an EMPTY token array emits one
    // whole-text gram (the shingle contract), which here would count a
    // phantom token per blank doc
    val uni = base.filter(size(col("toks")) >= 1)
      .select(explode(HashFunctions.shingleFps60(col("toks"), 1)).as("fp"))
    val bi = base.filter(size(col("toks")) >= 2)
      .select(explode(HashFunctions.shingleFps60(col("toks"), 2)).as("fp"))
    val uniCounts = uni.groupBy(col("fp")).agg(count(lit(1)).as("cnt"))
    uniCounts
      .select(lit("uni").as("kind"), col("fp"), col("cnt"))
      .unionByName(bi.groupBy(col("fp")).agg(count(lit(1)).as("cnt"))
        .select(lit("bi").as("kind"), col("fp"), col("cnt")))
      // total = Σ over the vocabulary-sized count table, NOT a third
      // corpus tokenize pass (AQE reuses the shared count exchange)
      .unionByName(uniCounts.agg(sum(col("cnt")).as("cnt"))
        .select(lit("n").as("kind"), lit(0L).as("fp"),
          col("cnt").cast("long").as("cnt")))
  }

  /** Additive model maintenance: fold a batch's counts into an existing
    * model table. Union + (kind, fp)-keyed sum — associative and
    * commutative, so batches fold in any order to the clean-rebuild
    * counts.
    */
  def foldLmCounts(model: DataFrame, batch: DataFrame): DataFrame =
    model.unionByName(batch)
      .groupBy(col("kind"), col("fp")).agg(sum(col("cnt")).as("cnt"))

  /** Score documents against a (possibly FROZEN) bigram LM — the actual
    * CCNet deployment shape: the model is trained once on the reference
    * corpus ([[bigramLmCounts]], maintained with [[foldLmCounts]]) and
    * every incoming corpus is screened against it without touching the
    * model. `selfCounts = true` is the train-on-self mode
    * ([[lmPerplexityScreen]]): counts include the scored occurrence, so
    * the common branch uses leave-one-out (c2 − 1). With a frozen model
    * (`selfCounts = false`) counts are external evidence and c2 ≥ 1 is
    * the common branch; a bigram the model never saw backs off, and an
    * OOV token floors at count 1 — the maximum 1 + ⌊log2 N⌋ bit cost,
    * which is exactly how an unknown word should read.
    *
    * Scale shape: the position stream (id + three 8-byte fps) makes three
    * key-joins against the model's count partitions; the model is
    * vocabulary-sized, documents never shuffle their text.
    */
  def lmScoreAgainst(df: DataFrame, id: Column, text: Column,
      model: DataFrame, thresholdBits: Double = 12.0,
      selfCounts: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graft.HashFunctions
    def flog2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val discount = if (selfCounts) 1L else 0L
    val c1 = model.filter(col("kind") === "uni")
      .select(col("fp"), col("cnt"))
    val c2m = model.filter(col("kind") === "bi")
      .select(col("fp").as("g2"), col("cnt").as("c2"))
    val nTotal = broadcast(model.filter(col("kind") === "n")
      .select(col("cnt").as("n_total")))
    val base = Dedup.widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), TextFunctions.tokensWs(col("__text")).as("toks"))
    // bigram position stream, each with its prev/cur unigram fps aligned
    // by start position (arrays_zip, no self-join)
    val pos = base.filter(size(col("toks")) >= 2)
      .select(col("id"), explode(arrays_zip(
        HashFunctions.shingleFps60(col("toks"), 2),
        slice(HashFunctions.shingleFps60(col("toks"), 1), lit(1),
          size(col("toks")) - 1),
        slice(HashFunctions.shingleFps60(col("toks"), 1), lit(2),
          size(col("toks")) - 1))).as("z"))
      .select(col("id"), col("z.0").as("g2"), col("z.1").as("up"),
        col("z.2").as("uc"))
    val scored = pos
      .join(c2m, Seq("g2"), "left")
      .join(c1.toDF("up", "c1p"), Seq("up"), "left")
      .join(c1.toDF("uc", "c1c"), Seq("uc"), "left")
      .crossJoin(nTotal)
      // common branch guarantees the prefix was seen (c2 − d ≥ 1 ⇒ the
      // bigram exists beyond self ⇒ c1p ≥ 1); OOV floors at 1 so flog2
      // stays defined and the cost lands at its 1 + ⌊log2 N⌋ maximum
      .select(col("id"),
        when(coalesce(col("c2"), lit(0L)) - lit(discount) >= 1L,
          flog2(coalesce(col("c1p"), lit(1L))) -
            flog2(coalesce(col("c2"), lit(0L)) - lit(discount)))
          .otherwise(lit(1L) + flog2(col("n_total")) -
            flog2(coalesce(col("c1c"), lit(1L))))
          .as("bits"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_scored"), sum(col("bits")).as("total_bits"))
    base.select(col("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"))
      .withColumn("bits_per_token",
        when(col("n_scored") === 0, lit(0.0))
          .otherwise(col("total_bits").cast("double") /
            col("n_scored").cast("double")))
      .withColumn("keep", col("bits_per_token") <= lit(thresholdBits))
  }

  /** 2^20 — the BM25 fixed-point scale (quantization ≤ 2^-21 per term,
    * far below ranking resolution). Bounds: a per-term contribution is at
    * most idf·(k1+1) ≈ 2.2·N at df = 1, so a billion-document corpus puts
    * ≈ 2.2e9·2^20 ≈ 2^51 in one scaled long and a thousand-term query sum
    * stays ≈ 2^61 < 2^63 even in that worst case; ANSI mode would throw on
    * overflow rather than corrupt a score.
    */
  val Bm25Scale: Double = 1048576.0

  /** BM25 ranked retrieval (Robertson & Walker 1994, Okapi BM25): score
    * each query's terms against the corpus inverted index and return the
    * top-`k` documents per query. `queryTerms` is a (qid, term) frame — an
    * eval suite, search workload, or RAG retrieval batch; it is small BY
    * CONSTRUCTION relative to the corpus and broadcasts.
    *
    * Scoring follows the standard shape
    * `idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with one
    * deliberate deviation: `idf` is the raw Robertson–Spärck-Jones ratio
    * `(N − df + 0.5)/(df + 0.5)` WITHOUT the `ln` — the same stance as
    * [[relevantTerms]] (libm's last ulp differs across engines, so `ln`
    * would hang the oracle hash-gate; a consumer wanting log damping
    * applies it per term on top, which preserves nothing the top-k needs
    * here because every per-term weight is a monotone transform). All
    * remaining arithmetic is IEEE +,·,/ over exact integers — bit-identical
    * in any engine. The per-(query, doc) score sums term contributions in
    * FIXED POINT: each contribution is scaled by [[Bm25Scale]] (2^20) and
    * rounded to a long, so the sum is order-free exact integer addition (a
    * float SUM lets the engine pick the order and changes the last ulp per
    * plan), and the final divide by 2^20 is a pure exponent shift — no
    * extra rounding. Quantization error is ≤ 2^-21 per term, below anything
    * a ranking can see, and ties after quantization break by doc_id
    * identically in any engine. This keeps the aggregation in
    * whole-stage-codegen'd sum(long) instead of a collect_list +
    * interpreted ordered fold.
    *
    * Scale shape: query terms and their df dim (≤ |query terms| rows)
    * broadcast; candidate rows = Σ posting-list lengths of the query's
    * terms, joined to the (doc_id, dl) dim with a shuffle hash join on
    * doc_id (narrow 16-byte rows on the dim side); corpus size and total
    * token count ride along as a one-row broadcast dim (no driver-side
    * count() job). The final top-k per query is the bounded
    * [[graft.functions.TopKAggregator]] — partial aggregation prunes each
    * partition to k before the shuffle, never a per-query window sort over
    * every candidate. Document text never shuffles. The df dim hangs off
    * the same query-term posting subplan the candidates use and the total
    * token count folds over the dl dim instead of re-aggregating the
    * postings, so the plan holds three (doc, term) posting aggregations
    * over narrow 2-column scans plus a column-less count — measured in
    * `graft.Plans`' final plan: AQE does NOT currently fuse the identical
    * posting exchanges across the branches, so at an extreme corpus the
    * further step is materializing `postings` once (the production move
    * is a persisted inverted index anyway — see [[postingsIncremental]]).
    */
  def bm25TopK(df: DataFrame, id: Column, text: Column,
      queryTerms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val src = df.select(id.as("__id"), text.as("__text"))
    val nDim = src.agg(count(lit(1)).as("__n"))
    // Two inline-build optimizations over the naive postings() feed, both
    // exact (AQE does not fuse identical posting exchanges — verified on
    // graft.Plans' final plan — so every avoided aggregation is real):
    // 1. the query-term prune is pushed BELOW the posting aggregation:
    //    tokens semi-join the broadcast term set before the (doc, term)
    //    count, so the aggregation and its exchange carry query-term
    //    tokens only, never the corpus dictionary (group counts are
    //    per-(doc, term), so pruning before or after aggregating is the
    //    same result);
    // 2. the doc-length dim is a MAP-ONLY token count — identical to
    //    Σ tf per doc by construction, sparing the corpus-wide posting
    //    aggregation that dl would otherwise pay. Zero-token docs
    //    contribute dl = 0 rows no candidate joins, adding nothing.
    val qterms = queryTerms.select(col("term")).distinct()
    val prunedP = src
      .select(col("__id").as("doc_id"),
        explode(TextFunctions.tokensWs(col("__text"))).as("term"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // summed per doc_id, not per input row: a corpus with duplicate ids
    // (an un-deduped batch union) must merge into one logical doc here
    // exactly as the posting aggregation merges its tf — a per-row dl
    // would fan the candidate join out and double-score those docs. The
    // exchange carries one (id, long) row per doc after partials.
    val dl = src
      .select(col("__id").as("doc_id"),
        size(TextFunctions.tokensWs(col("__text"))).cast("long").as("__dl0"))
      .groupBy(col("doc_id")).agg(sum(col("__dl0")).as("dl"))
    bm25Serve(prunedP, dl, nDim, queryTerms, k, k1, b, prePruned = true)
  }

  /** [[bm25TopK]] served from a MAINTAINED posting table — the production
    * shape once the index is persisted/bucketed and folded per batch with
    * [[postingsIncremental]]: no tokenization at query time, and with the
    * postings bucketed by `term` the candidate prune is shuffle-free.
    * `corpusSize` is a one-row (`__n`) frame so the caller can keep it as
    * maintained state too. NOTE: it must count ALL corpus documents, not
    * the index's distinct doc ids — zero-token docs have no posting rows
    * but still belong in N, so an index-derived count would shift every
    * idf when blank docs exist; maintain the doc count alongside the
    * index (the [[graft.streaming.Streams.IndexIngest]] batch sizes sum
    * to exactly it).
    */
  def bm25TopKFromPostings(p: DataFrame, corpusSize: DataFrame,
      queryTerms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Serve(p,
      p.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")),
      corpusSize, queryTerms, k, k1, b)

  /** Shared BM25 serve core: scoring over a posting table with the
    * doc-length dim supplied by the caller — posting-derived
    * ([[bm25TopKFromPostings]]) or a map-only token count when the text
    * is at hand ([[bm25TopK]]); the two are identical by construction
    * (dl = Σ tf per doc). `dlDim`: (doc_id, dl: long), one row per doc
    * with ≥ 0 tokens (zero-token docs may appear with dl = 0 or be
    * absent — they have no postings, so no candidate ever joins them,
    * and a 0 adds nothing to the total).
    */
  private def bm25Serve(p: DataFrame, dlDim: DataFrame,
      corpusSize: DataFrame, queryTerms: DataFrame, k: Int,
      k1: Double, b: Double, prePruned: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // Pin the two SMALL derived dims (r20 guide §2.4 — remove repeated
    // passes): each is referenced twice downstream (dl by totDim + the
    // candidate join, qp by the df dim + the candidates), and AQE does
    // not fuse the identical subtrees (graft.Plans-verified), so unpinned
    // each reference RE-EXECUTES the full posting derivation — for the
    // from-postings path that was 4 evaluations of the caller's posting
    // table (an in-query incremental FOLD for bm25_from_index). Both
    // pins are docs-/query-bounded (one 16-byte row per doc; postings of
    // the query's terms only), NEVER corpus-token-sized — the phraseMining
    // stance on corpus-sized pins holds. Released at the caller's
    // materialization boundary (graft.Pins contract).
    val dl = graft.Pins.pin(dlDim)
    val totDim = dl.agg(coalesce(sum(col("dl")), lit(0L)).as("__tot"))
    val statsDim = corpusSize.crossJoin(totDim)
    val qt = queryTerms.select(col("qid"), col("term")).distinct()
    // prePruned: the caller already restricted p to the query's terms
    // (bm25TopK pushes the prune below its posting aggregation) — a
    // second broadcast join here would be an identity filter paying one
    // exchange and a probe per posting row
    val qp = graft.Pins.pin(
      if (prePruned) p
      else p.join(broadcast(qt.select(col("term")).distinct()), Seq("term")))
    val dfq = qp.groupBy(col("term")).agg(count(lit(1)).as("df"))

    val nd = col("__n").cast("double")
    val dfd = col("df").cast("double")
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val avgdl = col("__tot").cast("double") / nd
    val idf = (nd - dfd + lit(0.5)) / (dfd + lit(0.5))
    val norm = lit(k1) * (lit(1.0) - lit(b) + lit(b) * (dld / avgdl))
    val contrib = idf * ((tfd * lit(k1 + 1.0)) / (tfd + norm))

    val cand = qp.join(broadcast(qt), Seq("term"))
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(statsDim))
      .select(col("qid"), col("doc_id"),
        round(contrib * lit(Bm25Scale)).cast("long").as("wfx"))
    val scored = cand.groupBy(col("qid"), col("doc_id"))
      .agg((sum(col("wfx")).cast("double") / lit(Bm25Scale)).as("score"))
    val topk = graft.functions.TopKAggregator.topK(k)
    scored.groupBy(col("qid"))
      .agg(topk(col("doc_id"), col("score")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("s.id").as("doc_id"), col("s.score").as("score"))
  }

  /** Collocation mining: the top-`k` adjacent word pairs by LIFT — the
    * observed/expected ratio `c(ab)·N / (c(a)·c(b))` with unigram-MLE
    * expectations (pointwise mutual information WITHOUT the log: the
    * same ranking, since log is monotone, and the ln-free stance every
    * oracle-gated scorer here takes). The phrase-vocabulary induction
    * step before tokenizer training or query segmentation: "new york"
    * scores far above chance, "of the" sits near 1 despite its raw
    * frequency. `minCount` floors the pair count — a hapax pair next to
    * two hapax words has infinite-looking lift and no statistical
    * support (the standard collocation-mining floor).
    *
    * Determinism: all counts are exact integers; the lift is the fixed
    * two-operand chain `(c_ab · N) / (c_a · c_b)` evaluated in doubles
    * (each product of exact integers, one division), identical in any
    * engine; final order (lift desc, w1, w2).
    *
    * Scale shape: the corpus tokenizes twice — once into the unigram
    * aggregation (dictionary-sized by Heaps' law; the aggregated dim is
    * CHECKPOINTED because it feeds three consumers — N and both count
    * joins — and identical subtrees are not fused, graft.Plans-verified on
    * bm25), once into the map-side adjacent-pair zip (the token array
    * with its tail — no self-join of positions; pinning the tokenized
    * corpus to save this second pass would cost corpus-sized storage).
    * The pair aggregation is bigram-dictionary-sized, the unigram joins
    * attach a dictionary dim (AQE broadcasts when genuinely small), and
    * the final top-k is a TakeOrdered — never a corpus-sized sort.
    */
  def phraseMining(df: DataFrame, text: Column, k: Int = 50,
      minCount: Long = 5L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = df.select(TextFunctions.tokensWs(text).as("ts"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val nDim = uni.agg(coalesce(sum(col("c")), lit(0L)).as("__n"))
    val pairs = toks
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0))),
        slice(col("ts"), lit(2), greatest(size(col("ts")) - 1, lit(0)))))
        .as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(nDim))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        ((col("n_pair").cast("double") * col("__n").cast("double")) /
          (col("n_w1").cast("double") * col("n_w2").cast("double")))
          .as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of `lists`
    * ranked retrieval results — the standard HYBRID-RETRIEVAL combiner
    * (BM25 ∪ dense ANN in RAG stacks): each list contributes
    * `1/(c + rank)` per (query, doc), absent docs contribute 0, and the
    * fused top-`k` per query wins. Rank-based fusion needs NO score
    * calibration between retrievers — the reason it beats score
    * averaging across heterogeneous scorers (a BM25 score and a cosine
    * live on unrelated scales).
    *
    * Every input frame must carry (qid, doc_id, rank); `rank` is
    * 1-based. Determinism: each term is one exact IEEE division of small
    * integers and the per-doc total is a FIXED left-to-right chain over
    * the lists (never a cross-row float SUM whose order the engine
    * picks), so any engine replays it bit-for-bit; final ties break by
    * doc_id.
    *
    * Scale shape: lists are top-K-per-query BY CONSTRUCTION, so every
    * frame here is |queries|·K rows — the fusion is full-outer joins on
    * (qid, doc_id) across list-sized frames and one bounded
    * [[graft.functions.TopKAggregator]] per query; the corpus is never
    * touched. Output: (qid, rank, doc_id, rrf).
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    require(k > 0, s"k must be positive, got $k")
    require(c >= 0, s"c must be non-negative, got $c")
    val renamed = lists.zipWithIndex.map { case (df, i) =>
      df.select(col("qid"), col("doc_id"),
        col("rank").cast("int").as(s"__r$i"))
    }
    val joined = renamed.reduceLeft(
      (a, b) => a.join(b, Seq("qid", "doc_id"), "full_outer"))
    val score = lists.indices.map { i =>
      // a doc absent from list i has a null rank: 1/(c+null) is null,
      // coalesced to the 0 contribution RRF defines
      coalesce(lit(1.0) / (lit(c.toDouble) + col(s"__r$i").cast("double")),
        lit(0.0))
    }.reduceLeft(_ + _)
    val topk = graft.functions.TopKAggregator.topK(k)
    joined.select(col("qid"), col("doc_id"), score.as("rrf"))
      .groupBy(col("qid"))
      .agg(topk(col("doc_id"), col("rrf")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("s.id").as("doc_id"), col("s.score").as("rrf"))
  }

  /** Hashed TF-IDF document vectors (the "hashing trick", Weinberger et
    * al. 2009): every term lands in `hash32(term) mod dims` and
    * contributes `tf · (N/df)` weight (the same ln-free raw idf as
    * [[relevantTerms]]) — a dense `array<float>` per document with NO
    * trained model, which plugs straight into the [[Similarity]] stack
    * (cosine top-k, LSH, IVF) for embedding-free similarity search,
    * clustering, and near-dup screening.
    *
    * Determinism: several terms share a bucket, and a float sum's order
    * is engine-chosen — so bucket values accumulate in 2^scaleBits FIXED
    * POINT (exact long addition, the [[bm25TopK]] pattern), convert once
    * (exponent shift), then round to float (correctly rounded, identical
    * everywhere). Documents with no tokens get the zero vector —
    * exclude them before cosine (zero norm ⇒ NaN).
    *
    * Scale shape: postings + df dim is the [[relevantTerms]] shape (the
    * dictionary dim carries NO broadcast hint — Heaps' law; AQE upgrades
    * when it is actually small); bucketing is a map-side projection; the
    * only new exchange carries (doc, bucket, long) rows, ≤ dims per doc.
    */
  def hashedTfidfVectors(df: DataFrame, id: Column, text: Column,
      dims: Int = 64, scaleBits: Int = 20): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    require(scaleBits > 0 && scaleBits < 31, s"scaleBits out of range: $scaleBits")
    val s = math.pow(2, scaleBits)
    val p = postings(df, id, text)
    val nDim = df.agg(count(lit(1)).as("__n"))
    val dfDim = p.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val vals = p.join(dfDim, Seq("term"))
      .crossJoin(broadcast(nDim))
      .select(col("doc_id"),
        pmod(TextFunctions.hash32(col("term")), lit(dims)).as("b"),
        round((col("tf").cast("double") *
          (col("__n").cast("double") / col("df").cast("double"))) * lit(s))
          .cast("long").as("qv"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("qv")).as("sv"))
    val dense = vals.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("sv"))))
        .as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          d => (coalesce(element_at(col("m"), d.cast("long")), lit(0L))
            .cast("double") / lit(s)).cast("float")).as("vec"))
    df.select(id.as("doc_id")).join(dense, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("vec"),
          array_repeat(lit(0.0f), dims)).as("vec"))
  }

  /** Common-token coverage quality signal: the fraction of each document's
    * token occurrences that fall in the corpus's top-`k` vocabulary (by
    * total frequency, ties broken by term) — low coverage flags gibberish,
    * wrong-language, or OCR-noise documents (the CCNet-style vocabulary
    * filter without a pretrained LM). Output: (id, n_tok, n_vocab,
    * coverage) with coverage an exact integer-ratio double.
    *
    * Scale shape: the vocabulary is a k-row broadcast dim built from the
    * term-count aggregation (map-side partial); the per-doc pass is a
    * map-side explode + broadcast membership probe + one groupBy on id.
    */
  def vocabCoverage(df: DataFrame, id: Column, text: Column,
      k: Int = 100): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val toks = df.select(id.as("id"),
      explode(TextFunctions.tokensWs(text)).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(k)
      .select(col("term"), lit(1).as("__v"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("__v").isNotNull, 1L).otherwise(0L)).as("n_vocab"))
      .select(col("id"), col("n_tok"), col("n_vocab"),
        (col("n_vocab").cast("double") / col("n_tok").cast("double"))
          .as("coverage"))
  }

  /** Per-document keyword extraction: each document's top-`k` most
    * DISTINCTIVE terms by the ln-free tf-idf lift `tf · N / df` (N = all
    * input documents, df = documents containing the term) — the corpus
    * tagger behind search facets, topic labeling, and dedup-cluster
    * naming. Stopwords self-suppress: their df approaches N so the lift
    * collapses toward their in-doc tf, while a term concentrated in few
    * documents multiplies by the full N/df ratio. Output:
    * (doc_id, rank, term, tf, df, score), rank 1-based per document.
    *
    * Determinism: tf/df/N are exact longs and the score is one
    * fixed-shape IEEE expression over them; the rank orders by
    * (score desc, term) — bit-replayable in any engine.
    *
    * Scale shape: the posting agg and the term-keyed df join are the two
    * corpus-sized exchanges (narrow (doc, term, counts) rows — text
    * never shuffles); the per-doc rank window partitions by doc_id, so
    * its groups are document-vocabulary-sized and parallelize across the
    * corpus. N rides a one-row broadcast.
    */
  def keywordExtract(df: DataFrame, id: Column, text: Column,
      k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val nDocs = df.agg(count(lit(1)).as("__n"))
    val tf = postings(df, id, text)
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfc, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        ((col("tf").cast("double") * col("__n").cast("double")) /
          col("df").cast("double")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Multi-pattern keyword tagging — the blocklist / taxonomy / policy
    * screen: every document matched against ALL `patterns` (phrases,
    * substrings — raw string matches, not token-aligned) in one native
    * Aho–Corasick pass, emitting a row per (document, matched pattern)
    * with its occurrence count (overlapping occurrences counted — "aa"
    * hits "aaa" twice). Documents matching nothing emit nothing, so the
    * output is hit-sparse: |matches|, not |docs|·|patterns|.
    *
    * Output: (id, pattern, n_hits), n_hits ≥ 1.
    *
    * Scale shape: the pattern set rides the serialized
    * [[org.apache.spark.sql.graft.MultiPatternHits]] expression (built
    * once per task — the broadcast-dim pattern without a join) and the
    * scan is O(chars + matches) per document REGARDLESS of pattern count
    * — a 10⁴-phrase blocklist costs one text pass, where per-pattern
    * contains()/rlike chains cost 10⁴ passes and a regex alternation
    * still scans per-position per-alternative. Map-only: explode the
    * K-int count vector, filter zeros; text never shuffles.
    */
  def keywordTag(df: DataFrame, id: Column, text: Column,
      patterns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graft.PatternFunctions
    require(patterns.nonEmpty, "keywordTag: empty pattern set")
    Dedup.widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"),
        posexplode(PatternFunctions.multiPatternHits(col("__text"), patterns)))
      .filter(col("col") > 0)
      .select(col("id"),
        element_at(typedlit(patterns), col("pos") + 1).as("pattern"),
        col("col").cast("long").as("n_hits"))
  }

  /** Per-source character n-gram fingerprint: each source's top-`k` most
    * frequent char `n`-grams with counts — the script/encoding/language
    * drift detector one level BELOW tokenization (mojibake, double-UTF-8,
    * an unexpected script, or a template's punctuation rhythm all shift
    * the char-trigram head before any word-level metric moves). Output:
    * (source, rank, gram, n), rank 1-based per source by
    * (count desc, gram).
    *
    * Determinism: counts are exact longs; grams are code-point slices
    * identical to SQL `substring(text, i, n)` in both engines (the
    * [[org.apache.spark.sql.graft.CharNgrams]] native emits them in one
    * O(len) pass — the declarative substring-per-position form is
    * O(len²) per document).
    *
    * Scale shape: explode → ONE (source, gram) 2-phase count — the only
    * corpus-sized exchange, ≤ n·4-byte gram keys — then a per-source
    * rank window over source-vocabulary-sized groups. Output ≤
    * |sources|·k.
    */
  def charNgramProfile(df: DataFrame, source: Column, text: Column,
      n: Int = 3, k: Int = 10): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("gram"))
    df.select(source.as("source"),
        explode(org.apache.spark.sql.graft.TextStats.charNgrams(text, n))
          .as("gram"))
      .groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("gram"), col("n"))
      .orderBy(col("source"), col("rank"))
  }

  /** Per-source vocabulary-richness report — the OCR-noise / gibberish /
    * boilerplate triage numbers a corpus card carries per slice: token
    * mass, vocabulary size, hapax legomena (terms seen exactly once in
    * the slice), and the two classic ratios. A noisy-OCR source shows a
    * hapax ratio far ABOVE the corpus band (every scanno is a fresh
    * "word"); template/boilerplate farms show type-token ratios far
    * BELOW it (the same words over and over). Output: (source, n_tokens,
    * vocab, hapax, hapax_ratio, type_token_ratio), one row per source.
    *
    * Determinism: counts are exact longs; each ratio is a single IEEE
    * division.
    *
    * Scale shape: one (source, term) partial-aggregated count — the only
    * corpus-sized exchange, narrow rows — then a |sources|-row rollup.
    * Per-source dictionaries never sit in one buffer; the hapax test is
    * a WHERE on the count, not a distinct-collect.
    */
  def vocabRichness(df: DataFrame, source: Column, text: Column): DataFrame =
    df.select(source.as("source"),
        explode(TextFunctions.tokensWs(text)).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        (col("hapax").cast("double") / col("vocab").cast("double"))
          .as("hapax_ratio"),
        (col("vocab").cast("double") / col("n_tokens").cast("double"))
          .as("type_token_ratio"))
      .orderBy(col("source"))

  /** ROUGE-N (Lin 2004) over explicit (reference, candidate) text pairs —
    * the n-gram-overlap eval metric summarization/distillation pipelines
    * report: matched n-grams use CLIPPED counts (a gram occurring twice
    * in the candidate but once in the reference matches once), recall
    * divides by reference grams, precision by candidate grams, F1 is the
    * exact 2m/(n_ref+n_cand) identity. A side with fewer than `n` tokens
    * has no n-grams; its ratios are NULL (no evidence), never a
    * fabricated 0 or 1.
    *
    * Output: (pair_id, n_ref, n_cand, n_match, recall, precision, f1).
    *
    * Scale shape: grams hash to positional 60-bit fps in native
    * [[org.apache.spark.sql.graft.ShingleFps60]] passes; per-(pair, gram)
    * counts partial-aggregate, the match join keys on (pair, 8-byte fp),
    * and every downstream agg is pair-keyed — text never shuffles after
    * widen(), and nothing is corpus-wide (all work is per pair).
    */
  def rougeN(pairs: DataFrame, pairId: Column, refText: Column,
      candText: Column, n: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.HashFunctions
    require(n >= 1, s"n must be >= 1, got $n")
    val base = Dedup.widen(pairs.select(pairId.as("pair_id"),
      refText.as("__r"), candText.as("__c")))
    def sideCounts(c: Column) = {
      val toks = TextFunctions.tokensWs(c)
      base.select(col("pair_id"), toks.as("__t"))
        .filter(size(col("__t")) >= n) // < n tokens → no n-grams
        .select(col("pair_id"),
          explode(HashFunctions.shingleFps60(col("__t"), n)).as("g"))
        .groupBy(col("pair_id"), col("g"))
        .agg(count(lit(1)).as("cnt"))
    }
    val rc = sideCounts(col("__r"))
    val cc = sideCounts(col("__c"))
    val matches = rc.join(cc.toDF("pair_id", "g", "ccnt"), Seq("pair_id", "g"))
      .groupBy(col("pair_id"))
      .agg(sum(least(col("cnt"), col("ccnt"))).as("n_match"))
    val refTot = rc.groupBy(col("pair_id")).agg(sum(col("cnt")).as("n_ref"))
    val candTot = cc.groupBy(col("pair_id")).agg(sum(col("cnt")).as("n_cand"))
    def ratio(num: Column, den: Column) =
      when(den.isNull || den === 0L, lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
    base.select(col("pair_id"))
      .join(refTot, Seq("pair_id"), "left")
      .join(candTot, Seq("pair_id"), "left")
      .join(matches, Seq("pair_id"), "left")
      .select(col("pair_id"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
      .withColumn("recall", ratio(col("n_match"), col("n_ref")))
      .withColumn("precision", ratio(col("n_match"), col("n_cand")))
      .withColumn("f1",
        when(col("n_ref") === 0L || col("n_cand") === 0L,
          lit(null).cast("double"))
          .otherwise(lit(2.0) * col("n_match").cast("double") /
            (col("n_ref") + col("n_cand")).cast("double")))
  }

  /** Self-BLEU corpus diversity (Zhu et al. 2018, Texygen): each doc's
    * modified n-gram precision against the REST of the corpus as
    * references — the standard "is the generator collapsing onto itself"
    * readout, and equally the training-corpus templated-boilerplate
    * screen. BLEU's clipped count for gram g in doc d is
    * min(tf_d(g), max over d'≠d of tf_d'(g)); the leave-one-out max is
    * exact via the (m1, c1, m2) trick — the gram's global max tf, how
    * many docs attain it, and the runner-up — so no per-(doc, gram)
    * second pass over other docs exists anywhere. A doc with no n-grams
    * reports NULL precision (no evidence — the [[rougeN]] convention).
    *
    * Output: (id, n_grams, n_clipped, self_bleu) where self_bleu =
    * n_clipped / n_grams (one IEEE division).
    *
    * Scale shape: grams hash to 60-bit fps natively; ONE (id, gfp) tf
    * aggregation (the posting-table exchange every n-gram operator here
    * pays), a vocabulary-sized gram-stats table derived from it in two
    * gram-keyed aggs, one gfp-keyed join of tf against those stats, and
    * a per-doc sum. Text never shuffles after widen(); nothing is
    * doc-pair-quadratic — the naive Self-BLEU is O(docs²) text
    * comparisons, this is O(corpus grams).
    */
  def selfBleu(df: DataFrame, id: Column, text: Column,
      n: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.HashFunctions
    require(n >= 1, s"n must be >= 1, got $n")
    val base = Dedup.widen(df.select(id.as("id"), text.as("__text")))
    val tf = base
      .select(col("id"), TextFunctions.tokensWs(col("__text")).as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("id"),
        explode(HashFunctions.shingleFps60(col("__t"), n)).as("g"))
      .groupBy(col("id"), col("g"))
      .agg(count(lit(1)).as("tf"))
    // consumed twice (gram stats + the clip join): pin, or the corpus
    // tokenize+hash pass runs again — the cooccurrenceCounts lesson;
    // released at the caller's boundary via graft.Pins.unpinAll
    graft.Pins.pin(tf)
    val m1 = tf.groupBy(col("g")).agg(max(col("tf")).as("m1"))
    val stats = tf.join(m1, Seq("g"))
      .groupBy(col("g"))
      .agg(first(col("m1")).as("m1"),
        sum(when(col("tf") === col("m1"), 1L).otherwise(0L)).as("c1"),
        max(when(col("tf") < col("m1"), col("tf"))).as("m2"))
    val perDoc = tf.join(stats, Seq("g"))
      .select(col("id"), col("tf"),
        least(col("tf"),
          when(col("tf") === col("m1") && col("c1") === 1L,
            coalesce(col("m2"), lit(0L))).otherwise(col("m1")))
          .as("clip"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_grams"), sum(col("clip")).as("n_clipped"))
    base.select(col("id")).distinct()
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_clipped"), lit(0L)).as("n_clipped"))
      .withColumn("self_bleu",
        when(col("n_grams") === 0L, lit(null).cast("double"))
          .otherwise(col("n_clipped").cast("double") /
            col("n_grams").cast("double")))
  }

  /** Windowed co-occurrence counts — the GloVe/word2vec count-matrix
    * precursor (Pennington et al. 2014 train from exactly this table):
    * every unordered token pair within `window` positions of each other,
    * counted corpus-wide, top-`k` by count. Pairs are canonicalized
    * (lexicographically smaller term first), so "a near b" and "b near
    * a" accumulate together; a token pairing with itself at distance ≤
    * window counts too (real co-occurrence models do — repeated words
    * carry signal).
    *
    * Output: (term_a, term_b, n), top-k by (n desc, term_a, term_b).
    *
    * Scale shape: tokenize + native 60-bit fp hashing run ONCE per doc,
    * and every offset's position-aligned zip is emitted from that single
    * projection (flatten of per-offset slices — NO self-join, and NO
    * per-offset union re-running the tokenizer: the 3-branch union form
    * measured 3-5× slower at stress ×64 because each branch re-tokenized
    * and re-hashed the corpus). The corpus-linear exchange carries
    * 16-byte fp pairs instead of raw term pairs; one (fp_a, fp_b)
    * 2-phase count agg; the k-th-largest count bounds the candidates
    * (plus boundary ties); labels re-join from the vocabulary-sized
    * (term, fp) dictionary only for those survivors, and the final
    * (n desc, term_a, term_b) top-k — identical to the raw-term plan's
    * output modulo 60-bit fp collisions, the fp-keyed text family's
    * accepted stance (the oracle hash-gate would catch one at test SFs).
    */
  def cooccurrenceCounts(df: DataFrame, text: Column, window: Int = 3,
      k: Int = 200): DataFrame = {
    import org.apache.spark.sql.graft.HashFunctions
    require(window >= 1, s"window must be >= 1, got $window")
    require(k > 0, s"k must be positive, got $k")
    val base = Dedup.widen(df.select(text.as("__text")))
      .select(HashFunctions.shingleFps60(
        TextFunctions.tokensWs(col("__text")), 1).as("fps"))
    val nToks = size(col("fps"))
    // all offsets in ONE array expression; greatest(·, 0) keeps the slice
    // length legal (ANSI throws on a negative length) for docs shorter
    // than the offset — those contribute an empty zip, not a filter branch
    val pairArr = flatten(array((1 to window).map { off =>
      val len = greatest(nToks - off, lit(0))
      arrays_zip(slice(col("fps"), lit(1), len),
        slice(col("fps"), lit(1 + off), len))
    }: _*))
    val pairs = base.select(explode(pairArr).as("z"))
      .select(least(col("z.0"), col("z.1")).as("fp_a"),
        greatest(col("z.0"), col("z.1")).as("fp_b"))
    // the count matrix is the GloVe artifact and BOTH downstream passes'
    // input (threshold + candidate filter) — pin it, or the corpus-wide
    // pair aggregation rebuilds for the second pass (measured 2× at
    // stress ×64). MEMORY_AND_DISK: vocabulary²-bounded, not corpus-
    // sized, but still the biggest frame here; spill beats re-exploding.
    // Released at the caller's boundary via graft.Pins.unpinAll.
    val counts = graft.Pins.pin(pairs.groupBy(col("fp_a"), col("fp_b"))
      .agg(count(lit(1)).as("n")))
    // candidate bound: everything at or above the k-th largest count —
    // ≥ k rows plus the k-th value's FULL tie class. The fp-pair (n desc)
    // order can disagree with the term-pair order INSIDE a tie class, so
    // the final top-k must rank labeled rows; a bare limit(k) on fp order
    // would pick different boundary-tie survivors. In the usual Zipfian
    // regime the tie class is small; in a flat-tail corpus (near-unique
    // vocabulary — random ids, OCR noise) the k-th count is 1 and the
    // class is the WHOLE count table, which is why the label joins below
    // must never force a broadcast of the candidate side.
    val kth = counts.select(col("n"))
      .orderBy(col("n").desc).limit(k)
      .agg(min(col("n")).as("__t"))
    val cands = counts.join(broadcast(kth),
      counts("n") >= kth("__t")).drop("__t")
    // label dictionary, pruned EXACTLY by the count bound: a pair's count
    // is at most 2·window·unigramCount(term) (each term occurrence forms
    // ≤ window pairs on each side), so a term in any surviving pair must
    // have unigramCount·2·window ≥ t — in the Zipfian case that keeps a
    // sliver of the vocabulary (AQE then broadcasts the label joins); in
    // the flat tail (t = 1) nothing prunes and the shuffle-hash path
    // carries it. fp computed AFTER the count agg, on vocabulary rows.
    val dict = Dedup.widen(df.select(text.as("__text")))
      .select(explode(TextFunctions.tokensWs(col("__text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__tc"))
      .join(broadcast(kth), col("__tc") * (2L * window) >= col("__t"))
      .select(col("term"), element_at(
        HashFunctions.shingleFps60(array(col("term")), 1), 1).as("fp"))
    // label joins are shuffle-hash on the dictionary side, NOT a forced
    // broadcast of the candidates: the candidate side is O(k) only while
    // the boundary-tie class is small, and a flat-tail corpus makes it
    // unbounded (see above) — a broadcast hint there would OOM the
    // driver where the pre-fp plan completed. AQE still runtime-converts
    // to broadcast whenever the candidate side is actually tiny, so the
    // Zipfian fast path costs nothing.
    val labeledA = cands
      .join(dict.toDF("la", "fp_a").hint("shuffle_hash"), Seq("fp_a"))
    labeledA
      .join(dict.toDF("lb", "fp_b").hint("shuffle_hash"), Seq("fp_b"))
      // re-canonicalize on LABELS: fp numeric order is not term
      // lexicographic order, but the unordered pair is the same
      .select(least(col("la"), col("lb")).as("term_a"),
        greatest(col("la"), col("lb")).as("term_b"), col("n"))
      .orderBy(col("n").desc, col("term_a"), col("term_b"))
      .limit(k)
  }

  /** Vocabulary-growth curve (the empirical Heaps law V(n) ∝ n^β): the
    * corpus is cut into `buckets` equal document slices in doc-id order,
    * and each slice reports its token mass, the terms FIRST seen there,
    * and the running vocabulary — the "how fast does vocabulary grow as
    * the corpus grows" readout that sizes tokenizer vocabularies and
    * predicts dictionary-table growth for every fp-keyed operator here.
    * A flattening curve (new_terms → 0) says the corpus is saturating
    * its domain; a straight line says every new slice still brings
    * fresh vocabulary (OCR noise shows as a SUPER-linear tail — every
    * scanno is a new term).
    *
    * Output: (bucket 1-based, n_docs, tokens, new_terms, cum_vocab).
    *
    * Scale shape: the NTILE over doc ids is the one single-reducer sort
    * (ids only — the rfm_segments stance; swap for KLL range cuts at
    * 10⁹ docs); the first-seen reduction is a vocabulary-sized
    * min-aggregation on raw terms; everything after runs on `buckets`
    * rows.
    */
  def vocabGrowth(df: DataFrame, id: Column, text: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    import org.apache.spark.sql.expressions.Window
    // the NTILE sorts an IDS-ONLY projection — ranking (id, text) rows
    // directly would funnel the corpus text through the window's single
    // reducer (the Layout.zorder anti-pattern); buckets ride back to the
    // text via an 8-byte equi-join
    val idBuckets = df.select(id.as("id"))
      .withColumn("bucket", ntile(buckets).over(Window.orderBy(col("id"))))
    growthCurve(df.select(id.as("id"), text.as("__text"))
      .join(idBuckets, Seq("id")))
  }

  /** [[vocabGrowth]]'s 10⁹-doc scale path: the id-order slices come from
    * broadcast KLL range cuts (the [[graft.operators.Layout
    * .curriculumShards]] pattern) instead of a global NTILE sort — one
    * O(k)-exchange sketch aggregation plus a map-only bucket assign, NO
    * single-reducer sort anywhere (even over ids). The trade: slice
    * sizes are rank-error-bounded approximations of NTILE's exact
    * equal split once n exceeds the sketch buffer; WITHIN the buffer
    * (n ≤ sketchK) the cuts are the exact discrete quantiles, which is
    * what lets the driver oracle replay this variant with
    * quantile_disc. Ids quantize through DOUBLE (exact to 2^53 — no
    * corpus carries that many docs).
    *
    * Output and every downstream aggregate match [[vocabGrowth]]'s
    * contract: (bucket 1-based, n_docs, tokens, new_terms, cum_vocab).
    */
  def vocabGrowthSketchCuts(df: DataFrame, id: Column, text: Column,
      buckets: Int = 10, sketchK: Int = 4096): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val base = df.select(id.as("id"), text.as("__text"))
    val cuts =
      if (buckets == 1) base.sparkSession.range(1)
        .select(array().cast("array<double>").as("__cuts"))
      else base.agg(graft.functions.QuantileSketch
        .kllQuantiles(sketchK, probs)(col("id").cast("double"))
        .as("__cuts"))
    growthCurve(base
      .crossJoin(broadcast(cuts))
      .select(col("id"), col("__text"),
        (size(filter(col("__cuts"), c => col("id").cast("double") > c))
          + 1).as("bucket")))
  }

  /** Shared tail of the vocabulary-growth family: per-bucket doc/token
    * mass, first-seen vocabulary, running total. Expects (id, __text,
    * bucket); the first-seen reduction is a vocabulary-sized
    * min-aggregation on raw terms, and the cum window runs over
    * `buckets` rows only.
    */
  private def growthCurve(b: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = b.select(col("bucket"),
      explode(TextFunctions.tokensWs(col("__text"))).as("term"))
    val docsPer = b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val tokensPer = toks.groupBy(col("bucket"))
      .agg(count(lit(1)).as("tokens"))
    val firstSeen = toks.groupBy(col("term"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_terms"))
    docsPer
      .join(tokensPer, Seq("bucket"), "left")
      .join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("tokens"), lit(0L)).as("tokens"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .withColumn("cum_vocab",
        sum(col("new_terms")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Two-corpus token-distribution divergence — the drift gate between
    * corpus versions / crawl snapshots / train-vs-eval splits, as ONE
    * summary row: Hellinger distance and total-variation distance between
    * the two unigram distributions, plus vocabulary overlap counts. Both
    * measures are deliberately LOG-FREE (H² = ½Σ(√p−√q)², TV = ½Σ|p−q|):
    * `sqrt`/`abs` are correctly-rounded IEEE ops identical in every
    * engine, where KL/JS's `ln` is libm-dependent — the same exactness
    * stance as this file's ⌊log2⌋ LM family. Hellinger reads fine-grained
    * drift (√·√ weighting is sensitive to rare-mass movement); TV reads
    * "fraction of token mass that moved"; n_shared/n_terms reads pure
    * vocabulary turnover.
    *
    * Determinism: p and q are exact-integer ratios (one correctly-rounded
    * division each), every per-term contribution is a fixed two-operand
    * IEEE chain, and the cross-row sums quantize each contribution to
    * 2^bits fixed point first ([[EmbeddingStats.labelCentroids]] pattern)
    * — contributions sum to ≤ 2, so the scaled sum stays ≤ 2^(bits+1) +
    * |vocab|/2 (rounding slack): exact in a long at any vocabulary size
    * for bits = 40.
    *
    * Output: ONE row — (n_terms_a, n_terms_b, n_shared, n_tokens_a,
    * n_tokens_b, hellinger, tv_dist).
    *
    * Scale shape: each side is one token explode into its own fp-keyed
    * count aggregation ([[tokenFpCounts]] — map-side partials; term text
    * collapses to 60-bit fingerprints before any exchange, the house
    * rule), merged by a vocabulary-sized union-sum; totals ride back as a
    * one-row broadcast cross join; the finale is a single-row
    * aggregation. Text never shuffles; nothing wider than longs does.
    */
  def corpusDivergence(a: DataFrame, aText: Column,
      b: DataFrame, bText: Column, bits: Int = 40): DataFrame =
    corpusDivergenceFromCounts(
      tokenFpCounts(a, aText), tokenFpCounts(b, bText), bits)

  /** (fp, c) token-unigram counts of a corpus — [[corpusDivergence]]'s
    * storable/streamable side input (term text collapses to 60-bit
    * fingerprints before the count exchange; one explode, map-side
    * partials). [[graft.streaming.Streams.TokenCountIngest]] maintains
    * exactly this frame incrementally.
    */
  def tokenFpCounts(df: DataFrame, text: Column): DataFrame =
    Dedup.widen(df.select(text.as("__text")))
      .select(explode(TextFunctions.tokensWs(col("__text"))).as("__t"))
      .select(TextFunctions.fingerprint64(col("__t")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("c"))

  /** Additive fold of a batch's [[tokenFpCounts]] delta into a maintained
    * count table — exact integer addition, so fold ≡ clean rebuild in any
    * batch order (the [[foldLmCounts]] contract, on the unigram frame).
    */
  def foldTokenCounts(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionAll(delta).groupBy(col("fp")).agg(sum(col("c")).as("c"))

  /** [[corpusDivergence]] from two PRE-AGGREGATED (fp, c) count tables —
    * the deployment shape: side A is a maintained count state (streamed
    * via TokenCountIngest or persisted from a previous corpus version),
    * side B the corpus under audit; nothing re-tokenizes the reference.
    * Identical output to the text-level entry point (integer counts are
    * integer counts), so the two share one oracle.
    */
  def corpusDivergenceFromCounts(a: DataFrame, b: DataFrame,
      bits: Int = 40): DataFrame = {
    require(bits > 0 && bits < 50, s"bits out of range: $bits")
    val scale = math.pow(2, bits)
    // pinned: the merged count table feeds TWO consumers (the totals agg
    // and the per-term pass) — unpinned, both sides' token explodes run
    // twice; released at the materialization boundary (graft.Pins)
    val counts = graft.Pins.pin(
      a.select(col("fp"), col("c").as("ca"), lit(0L).as("cb"))
        .unionAll(b.select(col("fp"), lit(0L).as("ca"), col("c").as("cb")))
        .groupBy(col("fp"))
        .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb")))
    val totals = broadcast(counts.agg(
      sum(col("ca")).as("na"), sum(col("cb")).as("nb")))
    val p = when(col("ca") === 0L, lit(0.0))
      .otherwise(col("ca").cast("double") / col("na").cast("double"))
    val q = when(col("cb") === 0L, lit(0.0))
      .otherwise(col("cb").cast("double") / col("nb").cast("double"))
    counts.crossJoin(totals)
      .select(col("ca"), col("cb"), col("na"), col("nb"),
        round((sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q)) * lit(scale))
          .cast("long").as("qh"),
        round(abs(p - q) * lit(scale)).cast("long").as("qtv"))
      .agg(
        sum(when(col("ca") > 0L, 1L).otherwise(0L)).as("n_terms_a"),
        sum(when(col("cb") > 0L, 1L).otherwise(0L)).as("n_terms_b"),
        sum(when(col("ca") > 0L && col("cb") > 0L, 1L).otherwise(0L))
          .as("n_shared"),
        max(col("na")).as("n_tokens_a"), max(col("nb")).as("n_tokens_b"),
        sum(col("qh")).as("__sh"), sum(col("qtv")).as("__stv"))
      .select(col("n_terms_a"), col("n_terms_b"), col("n_shared"),
        col("n_tokens_a"), col("n_tokens_b"),
        sqrt((col("__sh").cast("double") / lit(scale)) * lit(0.5))
          .as("hellinger"),
        ((col("__stv").cast("double") / lit(scale)) * lit(0.5)).as("tv_dist"))
  }
}
