package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HashFunctions
import graft.functions.TextFunctions

/** Deduplication operators for 100 TB-scale corpora.
  *
  * Scale design notes:
  *  - `exact` groups on a 60-bit md5 fingerprint, so the shuffle carries
  *    (id, fingerprint) pairs — not document bodies.
  *  - the approximate family (MinHash / SimHash / n-gram Jaccard) never does
  *    an all-pairs comparison: candidates come from equality joins on LSH
  *    band buckets / hash blocks, and only candidates are verified. Signature
  *    computation is a single narrow projection (no shuffle) of native
  *    expressions (one compiled loop per row, inside whole-stage codegen —
  *    see NativeUnaryCodegen); the only shuffles are the bucket
  *    join and the verify join, both on compact keys.
  *  - all hashing is md5-derived (content-addressed, engine-portable,
  *    cluster-stable — no JVM hashCode anywhere).
  */
object Dedup {

  /** Ensure at least default parallelism before per-row signature work
    * (hashing/shingling/embedding math): a narrow input would otherwise put
    * all per-row compute on a few cores. The declarative knob
    * `spark.sql.files.minPartitionNum` is NOT sufficient, so the engine
    * leaves it unset (see GraftSession.configure): it splits a small
    * parquet file into >= cores BYTE ranges, but parquet assigns each ROW
    * GROUP to the one range holding its start offset — a single-row-group
    * file still lands every row in one partition (measured: 2-5x on the
    * signature-heavy benchmarks).
    * Hence the physical-plan probe + conditional repartition. The probe
    * costs planning only: widen() is applied to scan-shaped inputs (no
    * exchanges below), where `df.rdd` builds but does not execute stages.
    * At real scale inputs arrive with >= cores non-empty partitions and
    * this no-ops — no shuffle added.
    */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Exact dedup: one row per distinct value of `content`, keeping the
    * minimum `id` and the duplicate-group size.
    *
    * Groups on `fingerprint64(content)` (md5-derived), so at scale the
    * shuffle moves 16 bytes/row instead of the document body. Callers that
    * cannot tolerate ~2^-60-scale collisions can group on content itself.
    */
  def exact(df: DataFrame, id: Column, content: Column): DataFrame =
    df.select(id.as("__id"), TextFunctions.fingerprint64(content).as("__fp"))
      .groupBy(col("__fp"))
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("group_size"))
      .select(col("keep_id"), col("group_size"))

  /** [[exact]] SCOPED to a grouping column: duplicates collapse only
    * WITHIN each scope; identical content appearing under two scopes
    * keeps one canonical per scope. This is the licensing/attribution
    * variant of exact dedup — when sources carry distinct licenses or
    * provenance obligations, a cross-source collapse silently reassigns
    * content to whichever source holds the minimum id, and the dropped
    * source's terms vanish from the audit trail. Output:
    * (scope, keep_id, group_size, cross_scope_copies) — the last column
    * counts how many OTHER scopes carry this same content, so the
    * cross-source duplication the scoped collapse deliberately retains
    * stays visible instead of silently multiplying training mass.
    *
    * Scale shape: one (scope, fp) 2-phase aggregation (16 bytes + scope
    * per row) plus one fp-keyed count of distinct scopes joined back —
    * both exchanges carry fingerprints, never bodies.
    */
  def exactScoped(df: DataFrame, id: Column, content: Column,
      scope: Column): DataFrame = {
    val fps = df.select(scope.as("scope"), id.as("__id"),
      TextFunctions.fingerprint64(content).as("__fp"))
    val perScope = fps.groupBy(col("scope"), col("__fp"))
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("group_size"))
    val scopesPerFp = perScope.groupBy(col("__fp"))
      .agg(count(lit(1)).as("__n_scopes"))
    perScope.join(scopesPerFp, Seq("__fp"))
      .select(col("scope"), col("keep_id"), col("group_size"),
        (col("__n_scopes") - 1L).as("cross_scope_copies"))
  }

  /** Incremental exact dedup for batch/stream ingestion: collapse duplicate
    * content WITHIN the fresh batch (min id wins), then drop rows whose
    * fingerprint already exists in `seenFps` — the compact `(fp: long)`
    * state table carried between ingestion runs (store it partitioned or
    * bucketed by fp so this anti-join co-locates). Returns the surviving
    * rows and the updated fingerprint table (old ∪ survivors).
    *
    * Scale shape: the only shuffles key on 8-byte fingerprints; fresh-batch
    * bodies never join against corpus bodies, and the corpus itself is
    * never re-read — only its fingerprint set, which is what makes
    * continuous ingestion O(batch) instead of O(corpus).
    */
  def exactIncremental(fresh: DataFrame, id: Column, content: Column,
      seenFps: DataFrame): (DataFrame, DataFrame) = {
    val fp = fresh.select(id.as("__id"),
      TextFunctions.fingerprint64(content).as("__fp"))
    val keepIds = fp.groupBy(col("__fp")).agg(min(col("__id")).as("__id"))
      .join(seenFps.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
    val survivors = fresh.join(keepIds.select(col("__id")),
      id === col("__id"), "left_semi")
    val updatedFps = seenFps.select(col("fp"))
      .unionAll(keepIds.select(col("__fp").as("fp")))
    (survivors, updatedFps)
  }

  // ---------------------------------------------------------------- MinHash

  /** Prime just above 2^32 for the (a*h + b) mod P universal hash family
    * (full family definition: org.apache.spark.sql.graft.MinHashSignature).
    */
  val P: Long = 4294967311L

  /** MinHash signature (length `numHashes`) over the distinct word
    * `shingleK`-shingles of `text`. Pure projection — no shuffle: one
    * compiled pass via the native [[org.apache.spark.sql.graft.MinHashSignature]]
    * expression (the equivalent higher-order-function formulation evaluates
    * interpreted per element, ~100× slower at corpus scale).
    */
  def minHashSignature(text: Column, shingleK: Int, numHashes: Int): Column =
    HashFunctions.minHashSignature(TextFunctions.tokensWs(text), shingleK, numHashes)

  /** Explode a frame holding (id, sig) into (id, band, band_key) rows —
    * THE band-key derivation (md5 of the comma-joined signature slice):
    * every band table in the engine (batch, corpus bootstrap, persisted
    * state) must come through here so keys stay joinable across them.
    */
  private def explodeBands(withSig: DataFrame, bands: Int, rows: Int): DataFrame =
    withSig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)))))
    ).as(Seq("band", "band_key")))

  /** (id, band, band_key) rows: `bands` LSH buckets per document, the band
    * key being the md5 of that band's signature slice. Join key is ~20
    * bytes/row regardless of document size.
    */
  def lshBands(df: DataFrame, id: Column, text: Column,
      shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    val rows = numHashes / bands
    explodeBands(
      widen(df.select(id.as("id"), text.as("__text")))
        .select(col("id"), minHashSignature(col("__text"), shingleK, numHashes).as("sig")),
      bands, rows)
  }

  /** Candidate pairs (id_a < id_b) that collide in at least one LSH band.
    * Equality self-join on (band, band_key); distinct to collapse multi-band
    * collisions. Skew note: a bucket of n identical docs yields n^2/2
    * candidates — run `exact` dedup first so identical bodies are gone.
    */
  def minHashCandidates(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 16): DataFrame = {
    val b = lshBands(df, id, text, shingleK, numHashes, bands)
    val l = b.select(col("band"), col("band_key"), col("id").as("id_a"))
    val r = b.select(col("band"), col("band_key"), col("id").as("id_b"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** MinHash+LSH near-duplicate pairs, verified: candidates from
    * `minHashCandidates`, then exact Jaccard over distinct shingle sets,
    * kept when >= `threshold`. Output: (id_a, id_b, jaccard), exact
    * integer-ratio doubles.
    */
  def minHashPairs(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val sets = widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), HashFunctions.wordShingleSet(
        TextFunctions.tokensWs(col("__text")), shingleK).as("set"))
    val cand = minHashCandidates(df, id, text, shingleK, numHashes, bands)
    cand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Carried state for [[minHashIncremental]]: the LSH band table and the
    * shingle-fingerprint postings of every document admitted so far. Both
    * are compact long-rows (band keys ~20 B, postings 8 B/shingle) — the
    * admitted corpus TEXT is never part of the state, which is what makes
    * continuous near-dup ingestion O(batch), not O(corpus): persist both
    * tables partitioned/bucketed by their join key between runs.
    *
    * `cached` is the bootstrap's persisted (id, sig, set) frame, carried so
    * [[NearDupState.save]] can unpersist it once the state lives as tables
    * — without the handle the corpus-sized blocks would stay pinned for the
    * session lifetime.
    */
  final case class NearDupState(bands: DataFrame, postings: DataFrame,
      cached: Option[DataFrame] = None) {

    /** Release the bootstrap's persisted signature frame WITHOUT saving —
      * the explicit drop for callers that never reach [[NearDupState.save]]
      * (a Runner-loop job that bootstraps per tick, a bootstrap abandoned
      * after validation). Idempotent; [[NearDupState.save]] ends with the
      * same release. This is deliberately NOT routed through
      * [[graft.Pins]]: the cache must survive ACROSS the caller's batches
      * until save/close — a scheduler's per-job `Pins.unpinAll` boundary
      * is mid-lifecycle for carried state, so the state object owns its
      * release and PinsSpec's soak test proves the loop stays clean when
      * callers honor it.
      */
    def close(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  object NearDupState {
    /** Bootstrap state from an already-deduplicated corpus. The corpus text
      * is tokenized/shingled ONCE into a persisted (id, sig, set) frame;
      * bands and postings are both projections of it — without the persist,
      * materializing the two state tables would pay the signature pass
      * twice over the full corpus. MEMORY_AND_DISK, not localCheckpoint:
      * a corpus-sized bootstrap frame may exceed executor memory, and
      * spilled blocks are still one ORDER of magnitude cheaper than
      * re-tokenizing. Call [[save]] right after a large bootstrap — the two
      * bucketed writes consume the cached frame once each, after which the
      * state lives as tables and the cache can be dropped.
      */
    def build(corpus: DataFrame, id: Column, text: Column,
        shingleK: Int = 3, numHashes: Int = 128, bands: Int = 16): NearDupState = {
      require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
      val combined = widen(corpus.select(id.as("id"), text.as("__t")))
        .select(col("id"),
          minHashSignature(col("__t"), shingleK, numHashes).as("sig"),
          HashFunctions.wordShingleSet(
            TextFunctions.tokensWs(col("__t")), shingleK).as("set"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      NearDupState(
        explodeBands(combined, bands, numHashes / bands),
        shinglePostings(combined.select(col("id"), col("set"))),
        cached = Some(combined))
    }

    /** Persist the carried state as two BUCKETED tables
      * (`<prefix>_bands` bucketed+sorted by `band_key`, `<prefix>_postings`
      * by `sfp`) and cut the in-memory unionAll lineage. Each
      * [[minHashIncremental]] run appends the surviving batch to both state
      * frames, so after k batches the plan is a k-deep union of
      * checkpoints — `save` compacts that to one clustered table, and the
      * bucketing pre-shuffles the state on exactly the keys the next run
      * joins on (band collisions on `band_key`, posting intersection on
      * `sfp`), so a bucket-aware reader co-locates those joins with no
      * state-side exchange.
      *
      * Re-bucketing cadence: call `save` every N batches (N·|batch| ≈ the
      * bucket size you want to re-cluster, e.g. hourly for streaming) or
      * whenever state lineage depth makes planning time noticeable; between
      * saves the per-batch localCheckpoint keeps execution (not layout)
      * bounded. Bucket count should track expected FINAL corpus size
      * (state rows / ~128 MiB per bucket file), not batch size.
      */
    def save(state: NearDupState, prefix: String, buckets: Int = 64): Unit = {
      // Stage BOTH tables before swapping EITHER: the updated postings plan
      // reads the previous generation's bands table (the cross-state
      // candidate join), so swapping bands first would delete files the
      // postings stage write still scans.
      stageBucketed(state.bands, s"${prefix}_bands", buckets, "band_key")
      stageBucketed(state.postings, s"${prefix}_postings", buckets, "sfp")
      swapStaged(state.bands.sparkSession, s"${prefix}_bands")
      swapStaged(state.postings.sparkSession, s"${prefix}_postings")
      // the state now lives as tables; release the bootstrap's persisted
      // signature frame (kept alive until here because both staged writes
      // read through it)
      state.close()
    }

    /** Reload state persisted by [[save]]; the returned frames carry the
      * tables' bucketing specs, so downstream joins on the bucket keys skip
      * the state-side shuffle. Refuses a layout-version mismatch on either
      * table (see [[StateFormatVersion]]).
      */
    def load(spark: org.apache.spark.sql.SparkSession, prefix: String): NearDupState =
      NearDupState(versionedStateTable(spark, s"${prefix}_bands"),
        versionedStateTable(spark, s"${prefix}_postings"))
  }

  /** Persist the [[exactIncremental]] fingerprint state as one bucketed
    * table (bucketed+sorted by `fp`) — same compaction/clustering contract
    * as [[NearDupState.save]]: collapses the per-batch unionAll lineage and
    * pre-shuffles on the anti-join key.
    */
  def saveFingerprints(fps: DataFrame, table: String, buckets: Int = 64): Unit =
    writeBucketedSwap(fps.select(col("fp")), table, buckets, "fp")

  /** Stage-and-rename bucketed table write: the updated state PLAN reads
    * the previous generation's table (state_{k+1} = table ∪ batch), so a
    * direct overwrite is a read-your-own-target error. Writing to a stage
    * table then swapping via rename makes `save` safe to call on state
    * derived from its own previous save — the steady-state cadence — and
    * readers never observe a half-written target.
    */
  /** Layout version stamped (as a table property) on every persisted
    * state table — the [[graft.operators.TextIndex.IndexFormatVersion]]
    * contract applied to the dedup state: [[NearDupState.load]] /
    * [[loadFingerprints]] REFUSE a mismatched (or missing) version rather
    * than misfold state whose layout a future code change reinterpreted.
    * Bump whenever the persisted layout's meaning changes (band-key
    * recipe, posting fingerprint, bucketing key semantics).
    *
    * Upgrade path for state KNOWN to be layout-compatible (tables
    * written by the build that predates the stamp, whose layout IS
    * version 1): run [[stampUnversionedStateTable]] once per table —
    * it audits the layout and stamps version 1 — or re-bootstrap. The
    * gate deliberately never infers compatibility from absence: a
    * missing stamp is indistinguishable from a foreign or corrupt table.
    */
  val StateFormatVersion: Int = 1

  private val StateVersionProp = "graft.state.format.version"

  private def writeBucketedSwap(df: DataFrame, table: String, buckets: Int,
      key: String): Unit = {
    stageBucketed(df, table, buckets, key)
    swapStaged(df.sparkSession, table)
  }

  private def stageBucketed(df: DataFrame, table: String, buckets: Int,
      key: String): Unit = {
    df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table + "__stage")
    // stamp the STAGE table so the version rides through the swap rename
    // atomically with the data it describes
    df.sparkSession.sql(s"ALTER TABLE `${table}__stage` SET TBLPROPERTIES " +
      s"('$StateVersionProp' = '$StateFormatVersion')")
  }

  private def swapStaged(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"ALTER TABLE `${table}__stage` RENAME TO `$table`")
    // the session caches the previous generation's file listing under this name
    spark.catalog.refreshTable(table)
  }

  /** The table's stamped layout version, if any — the ONE property-read
    * shared by the load gate and the migration path, so they can never
    * disagree on whether a table is stamped.
    */
  private def stampedVersion(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES `$table`").collect()
      .collectFirst {
        case r if r.getString(0) == StateVersionProp => r.getString(1)
      }

  /** `spark.table` behind the version gate: refuse a state table whose
    * stamped layout version differs from this build's (missing = written
    * by something that predates versioning = equally unreadable).
    */
  private def versionedStateTable(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val v = stampedVersion(spark, table).getOrElse("<missing>")
    require(v == StateFormatVersion.toString,
      s"state table $table has layout version $v; this build reads " +
        s"version $StateFormatVersion — refusing to load (re-bootstrap " +
        "the state with the current build)")
    spark.table(table)
  }

  /** Reload fingerprint state persisted by [[saveFingerprints]]; refuses
    * a layout-version mismatch (see [[StateFormatVersion]]).
    */
  def loadFingerprints(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    versionedStateTable(spark, table)

  /** One-shot migration for state tables persisted by the build that
    * PREDATES version stamping (ADVICE r19: every such table becomes
    * unloadable after upgrade, and the manual `ALTER TABLE` escape hatch
    * left the audit to the operator). Their layout IS version 1, so the
    * automated path is: verify the table exists and carries every column
    * the caller's layout expects (the cheap layout audit), verify it
    * carries NO version stamp at all, then stamp version 1. A table
    * already stamped with ANY version is refused — a future-version
    * table is not migratable by relabeling; it needs a re-bootstrap with
    * this build (the same recovery as a refused load). Run once per
    * table at upgrade time:
    * `Dedup.stampUnversionedStateTable(spark, "corpus_fps", Seq("fp"))`.
    */
  def stampUnversionedStateTable(spark: org.apache.spark.sql.SparkSession,
      table: String, expectedColumns: Seq[String]): Unit = {
    require(spark.catalog.tableExists(table),
      s"state table $table does not exist — nothing to migrate")
    val v = stampedVersion(spark, table)
    require(v.isEmpty,
      s"state table $table already carries layout version ${v.get} — " +
        "refusing to restamp; a mismatched version means the layout " +
        "changed, and the recovery is a re-bootstrap with this build, " +
        "not a relabel")
    val cols = spark.table(table).columns.toSet
    val missing = expectedColumns.filterNot(cols)
    require(missing.isEmpty,
      s"state table $table is missing expected column(s) " +
        s"${missing.mkString(", ")} (has: ${cols.toSeq.sorted.mkString(", ")})" +
        " — not a pre-versioning table of this layout; refusing to stamp")
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
      s"('$StateVersionProp' = '$StateFormatVersion')")
  }

  /** Incremental near-duplicate dedup for continuous ingestion — the
    * MinHash analogue of [[exactIncremental]]. The fresh batch first
    * collapses internally (LSH candidate pairs verified by exact Jaccard →
    * connected components → min-id representative); surviving
    * representatives are then checked against the admitted corpus via a
    * band-collision join against `state.bands`, with candidates verified by
    * exact Jaccard computed from the posting intersection (state postings,
    * never state text). Returns (survivor rows, updated state).
    *
    * Scale shape: every join keys on ~8–20-byte hashes; the fresh batch's
    * text is read once for signatures/postings; the admitted corpus is
    * touched only through its band and posting tables. Cross-verification
    * cost is bounded by band collisions, not |batch|×|corpus|.
    */
  def minHashIncremental(fresh: DataFrame, id: Column, text: Column,
      state: NearDupState, shingleK: Int = 3, numHashes: Int = 128,
      bands: Int = 16, threshold: Double = 0.8): (DataFrame, NearDupState) = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    // 0. ONE signature/shingle pass over the batch text: (id, sig, set) is
    // computed in a single widened projection (WSCG shares the tokenization
    // subexpression) and pinned — every later stage (within-batch pairs,
    // band table, postings) derives from this frame by projection or
    // id-filter, never by re-reading batch text. This is the per-batch
    // job-count floor: the batch is tokenized/shingled exactly once.
    val combined = widen(fresh.select(id.as("id"), text.as("__t")))
      .select(col("id"),
        minHashSignature(col("__t"), shingleK, numHashes).as("sig"),
        HashFunctions.wordShingleSet(
          TextFunctions.tokensWs(col("__t")), shingleK).as("set"))
      .localCheckpoint()
    val batchBands = explodeBands(combined, bands, numHashes / bands)

    // 1. within-batch collapse: verified pairs → components → min-id reps.
    // Same verification as minHashPairs (exact Jaccard over the shingle
    // arrays), but candidates and sets come from the pinned frame. The pair
    // set is checkpointed (id-pair longs — tiny) because components()
    // drives several actions over it; the empty-pair fast path skips the
    // whole propagation loop — at streaming cadence most batches have no
    // within-batch near-dups.
    val bl = batchBands.select(col("band"), col("band_key"), col("id").as("id_a"))
    val br = batchBands.select(col("band"), col("band_key"), col("id").as("id_b"))
    val batchCand = bl.join(br, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sets = combined.select(col("id"), col("set"))
    val pairs = batchCand
      .join(sets.select(col("id").as("id_a"), col("set").as("set_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("set").as("set_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val (reps, repIds) =
      if (pairs.isEmpty) (fresh, combined.select(col("id")))
      else {
        val nonReps = components(pairs)
          .filter(col("id") =!= col("component"))
          .select(col("id").as("__nonrep_id"))
        (fresh.join(nonReps, id === col("__nonrep_id"), "left_anti"),
          combined.select(col("id"))
            .join(nonReps, col("id") === col("__nonrep_id"), "left_anti"))
      }

    // 2. compact representations of the representatives — FILTERED from the
    // pinned batch frames (round-5 cost: these re-shingled the batch text
    // from the source, paying the signature pass 3× per batch)
    val repBands = batchBands.join(repIds, Seq("id"), "left_semi")
    val repPost = shinglePostings(sets.join(repIds, Seq("id"), "left_semi"))

    // 3. candidates against the corpus: band-collision equality join
    val cand = repBands.select(col("band"), col("band_key"), col("id").as("fresh_id"))
      .join(state.bands.select(col("band"), col("band_key"), col("id").as("state_id")),
        Seq("band", "band_key"))
      .select(col("fresh_id"), col("state_id")).distinct()

    // 4. verify candidates by exact Jaccard from posting intersections:
    //    prune both posting sides to candidate ids first so the sfp join
    //    touches only colliding documents
    val fPost = repPost.select(col("id").as("fresh_id"), col("sz").as("fsz"), col("sfp"))
      .join(cand.select(col("fresh_id")).distinct(), Seq("fresh_id"), "left_semi")
    val sPost = state.postings
      .select(col("id").as("state_id"), col("sz").as("ssz"), col("sfp"))
      .join(cand.select(col("state_id")).distinct(), Seq("state_id"), "left_semi")
    val matched = fPost.join(sPost, Seq("sfp"))
      .join(cand, Seq("fresh_id", "state_id"), "left_semi")
      .groupBy(col("fresh_id"), col("state_id"), col("fsz"), col("ssz"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") /
        (col("fsz") + col("ssz") - col("inter")).cast("double") >= threshold)
      .select(col("fresh_id")).distinct()

    val survivors = reps.join(matched, id === col("fresh_id"), "left_anti")
    val survBands = repBands.join(matched, col("id") === col("fresh_id"), "left_anti")
    val survPost = repPost.join(matched, col("id") === col("fresh_id"), "left_anti")
    (survivors, NearDupState(
      state.bands.unionAll(survBands),
      state.postings.unionAll(survPost),
      state.cached)) // carry the bootstrap cache handle so save() can drop it
  }

  /** Connected components over a near-duplicate pair graph by alternating
    * large-star / small-star rounds (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14): each round rewires edges toward
    * per-neighborhood minima — large-star hangs every larger neighbor of u
    * under min(Γ(u) ∪ u), small-star hangs u's smaller neighborhood under
    * its minimum — and the edge relation converges to depth-1 stars rooted
    * at each component's minimum id, the canonical representative for
    * cluster-collapse dedup.
    *
    * Versus plain min-label propagation (the previous implementation),
    * round count drops from O(graph diameter) to O(log² n) — a 1000-hop
    * chain finishes in a handful of rounds instead of 1000. Every round is
    * two groupBy+join passes over (long, long) edges; frames are
    * localCheckpoint-ed per round so iterated plans never nest. `maxIter`
    * bounds pathology.
    *
    * Fixpoint probe: a state is a fixpoint of the alternation iff it is a
    * disjoint union of downhill STARS — every src has out-degree exactly 1
    * AND no edge's dst also appears as a src (every non-root points
    * directly at a root). Such a state maps to itself under both stars
    * (direct computation: large-star re-emits each (v, m); small-star's
    * per-src minimum IS the sole neighbor), and the paper's fixpoint
    * theorem says the only fixpoints are the correct min-rooted component
    * stars — so one degree-aggregation + semi-join action over the
    * just-checkpointed blocks decides termination. Both conditions are
    * needed: edges {(3,1),(3,2)} have no dst-as-src yet are NOT a fixpoint
    * (components 1 and 2 still merge through 3). (The first version probed
    * with count() + exceptAll — two extra multi-stage jobs per round that
    * made the loop SLOWER than the min-label one it replaced on shallow
    * near-dup graphs.)
    *
    * Adaptive small-graph path: verified near-dup pair sets are usually
    * TINY relative to the corpus (233 pairs from 4 750 sf0.1 batch docs),
    * and any distributed iteration pays multi-second scheduler overhead on
    * them — so when the deduplicated edge count is at most
    * `localEdgeThreshold` (and ids are integral), the edges collect to the
    * driver and a path-compressed min-root union-find labels them in one
    * pass (the same measured-auto-strategy stance as the Jaccard join).
    * Memory honesty: at the 1 M-edge default the transient driver cost is
    * a few hundred MB (collected Rows plus boxed HashMap/node-set entries
    * — NOT just the 16 MB of raw longs); raise the threshold only with
    * driver heap to match. The ×16 stress corpus (~665 k pairs) stays
    * local; the ×64 one (~11 M) takes the distributed star loop.
    * Output: (id, component) — one row per node appearing in `pairs`.
    */
  def components(pairs: DataFrame, maxIter: Int = 20,
      localEdgeThreshold: Long = 1000000L): DataFrame = {
    // evaluate the (often expensive — LSH band joins) pair plan EXACTLY
    // once: canonicalize to downhill (larger → smaller) edges, self-loops
    // still included, and checkpoint; everything below feeds off these
    // blocks
    val edges0 = pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .distinct().localCheckpoint()
    val integral = edges0.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (integral && edges0.count() <= localEdgeThreshold)
      return componentsLocal(edges0)
    // one row per node, kept aside so fixpoint roots (and self-pair-only
    // nodes, whose edges drop with the self-loop filter) label themselves
    val allNodes = edges0
      .select(explode(array(col("src"), col("dst"))).as("id")).distinct()
    var edges = edges0.filter(col("src") =!= col("dst"))
    // fixpoint witness nodes: out-degree > 1, or appearing as BOTH a src
    // and a dst — none ⟺ disjoint downhill stars ⟺ fixpoint. One tagged
    // union + groupBy = a single shuffle of (long, int) rows per probe.
    def notStars(e: DataFrame): Boolean = {
      val witnesses = e.select(col("src").as("n"), lit(1).as("o"))
        .unionAll(e.select(col("dst").as("n"), lit(0).as("o")))
        .groupBy(col("n"))
        .agg(sum(col("o")).as("outdeg"), min(col("o")).as("mn"))
        .filter(col("outdeg") > 1 ||
          (col("outdeg") >= 1 && col("mn") === 0))
      !witnesses.isEmpty
    }
    var converged = edges.isEmpty
    var i = 0
    while (!converged && i < maxIter) {
      // -- large-star: over the SYMMETRIC neighbor relation, u's minimum
      // m = min(Γ(u) ∪ u) adopts every strictly-larger neighbor: (v, m)
      // for v ∈ Γ(u), v > u. Output stays downhill (v > u ≥ m).
      val sym = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
      val ls = sym.join(lsMin, col("src") === col("u"))
        .filter(col("dst") > col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
      // -- small-star: edges already point downhill, so Γ(u) here is u's
      // smaller neighborhood N; m = min(N) adopts N ∪ {u} \ {m}
      val ssMin = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val next = ls.join(ssMin.select(col("src"), col("m")), Seq("src"))
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(ssMin.select(col("src"), col("m").as("dst")))
        .distinct().localCheckpoint()
      converged = !notStars(next)
      edges = next
      i += 1
    }
    // at fixpoint edges are stars (node → component minimum); roots never
    // appear on the src side (src > dst invariant), so they self-label via
    // the anti-join, as do nodes whose only pairs were self-loops. If
    // maxIter ran out before the star fixpoint, a node may still carry
    // several outgoing edges — the per-src min keeps the labeling
    // WELL-FORMED (exactly one row per node; labels are a valid downhill
    // over-approximation, same contract the old min-label loop had when
    // its budget ran out) instead of emitting duplicate conflicting rows.
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components: star alternation did not converge within $maxIter " +
          "rounds; returning per-node minimum labels (over-approximation)")
    val labeled = edges.groupBy(col("src")).agg(min(col("dst")).as("component"))
      .select(col("src").as("id"), col("component"))
    allNodes.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Driver-side union-find for small edge sets (see [[components]]):
    * weighted-by-min linking (the larger root always hangs under the
    * smaller, so each set's root IS its minimum id) with full path
    * compression — O(E α(E)) over collected (long, long) edges. Self-loop
    * nodes label themselves; output ids are cast back to the input id
    * type so downstream anti-joins see the caller's schema.
    */
  private def componentsLocal(edges0: DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    val idType = edges0.schema.fields.head.dataType
    val rows = edges0
      .select(col("src").cast("long"), col("dst").cast("long")).collect()
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while ({ val p = parent.get(r); p != null && p != r }) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    val nodes = new java.util.LinkedHashSet[java.lang.Long]()
    rows.foreach { row =>
      val s = row.getLong(0); val d = row.getLong(1)
      nodes.add(s); nodes.add(d)
      if (s != d) {
        val rs = find(s); val rd = find(d)
        if (rs != rd) parent.put(math.max(rs, rd), math.min(rs, rd))
      }
    }
    import scala.jdk.CollectionConverters._
    val out = nodes.asScala.iterator
      .map(n => (n.longValue(), find(n.longValue()))).toSeq
    // RDD-backed, not createDataFrame(Seq): a LocalRelation embeds every
    // row in the logical plan, which at the threshold's ~4M node rows
    // bloats analysis and scans on a single partition
    val slices = math.max(1, math.min(32, out.size / 200000))
    val labeledRdd = spark.sparkContext.parallelize(
      out.map(p => org.apache.spark.sql.Row(p._1, p._2)), slices)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(labeledRdd, schema)
      .select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
  }

  /** Corpus minus near-duplicates: drops every id that appears as the larger
    * element of a verified pair (greedy cluster collapse — for chains this
    * may drop a doc whose only link was itself dropped; acceptable for
    * training-data dedup where over-dropping a near-dup is harmless).
    * [[minHashDedupClustered]] is the chain-correct variant.
    */
  def minHashDedup(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val dupIds = minHashPairs(df, id, text, shingleK, numHashes, bands, threshold)
      .select(col("id_b").as("__dup_id")).distinct()
    df.join(dupIds, id === col("__dup_id"), "left_anti")
  }

  /** Chain-correct near-dup collapse: connected components over the
    * verified pairs, keep exactly one representative (the minimum id) per
    * component — a doc chained a~b~c keeps only a, never drops the whole
    * chain.
    */
  def minHashDedupClustered(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val comp = components(
      minHashPairs(df, id, text, shingleK, numHashes, bands, threshold))
    val drop = comp.filter(col("id") =!= col("component"))
      .select(col("id").as("__dup_id"))
    df.join(drop, id === col("__dup_id"), "left_anti")
  }

  /** Cluster collapse keeping the HIGHEST-PRIORITY member per near-dup
    * component (training-data curation keeps the best copy — longest,
    * highest quality score — not the smallest id): connected components over
    * the verified pairs, then a per-component argmax on (priority, smaller
    * id wins ties). Documents untouched by any pair survive unchanged.
    *
    * Same scale shape as [[minHashDedupClustered]]: the component frame is
    * (id, label) longs, the argmax is a partial-aggregating max_by, and the
    * final anti-join keys on ids only.
    */
  def collapseByPriority(df: DataFrame, id: Column, pairs: DataFrame,
      priority: Column): DataFrame = {
    val comp = components(pairs)
    val pr = df.select(id.as("id"), priority.as("__pr"))
    val keep = comp.join(pr, Seq("id"))
      .groupBy(col("component"))
      .agg(max_by(col("id"), struct(col("__pr"), (-col("id")).as("ni"))).as("keep_id"))
    val drop = comp.join(keep, Seq("component"))
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as("__dup_id"))
    df.join(drop, id === col("__dup_id"), "left_anti")
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** All-pairs n-gram Jaccard >= threshold, exact under every strategy:
    *
    *  - `"count"`: inverted-index self-join with intersections counted
    *    directly — `|a ∩ b|` = the number of shingle fingerprints the pair
    *    co-occurs under, so one groupBy replaces candidate generation AND
    *    verification; set sizes join back as a small broadcast dim. Shuffle
    *    cost is Σ_s df(s)·(df(s)-1)/2 over shingles — the fastest plan when
    *    no shingle is near-universal (no shingle arrays ever shuffle), but
    *    quadratic under stop-shingles.
    *  - `"prefix"`: AllPairs/PPJoin prefix filtering — only each set's
    *    `|s| - ceil(t·|s|) + 1` globally-rarest shingles are indexed
    *    (recall-exact), then candidates verify against full shingle sets.
    *    Candidate volume is bounded by the prefix postings, so a near-
    *    universal shingle cannot blow up the self-join.
    *  - `"auto"` (default): measures the maximum shingle document frequency
    *    and picks `count` when `maxDf <= autoCountMaxDf`, `prefix`
    *    otherwise: the Σ df² self-join blowup is capped at autoCountMaxDf²
    *    per shingle before the plan switches to the bounded one. The same
    *    runtime-statistics-then-replan move AQE makes for joins, applied to
    *    the strategy choice.
    *
    * `autoSampleFraction` < 1 estimates maxDf from a deterministic hash
    * sample of DOCUMENTS (the id filter pushes below the shingle explode,
    * so only sampled docs are shingled — the statistics pass costs that
    * fraction of one projection, not a full extra pass) and scales the
    * sampled maximum back up by 1/fraction. A near-universal stop-shingle
    * appears in ~every sampled doc, so detection is robust at any fraction
    * that keeps a few thousand docs; at corpus scale use ~0.01.
    *
    * `maxDocFreq` drops shingles above that document frequency from the
    * index entirely (any strategy): a documented approximation for stop-
    * shingle-heavy corpora (under `"count"` dropped shingles also leave the
    * intersection counts).
    *
    * `pairBudget` (ON by default — [[PairBudget.Auto]], sized shuffle
    * partitions × `spark.graft.dedup.pairsPerTask`) is the
    * OUTPUT-quadratic guard rail: even a perfectly-bounded candidate plan
    * runs unbounded time when the ANSWER is quadratic (a corpus dominated
    * by near-duplicates — the ×64 containment stress ran 27 minutes
    * before a hand abort). When the statistics pass estimates more
    * candidate pairs than the budget, the whole index degrades to a
    * deterministic doc hash-sample sized so the expected pair count fits
    * (fraction = √(budget/estimate)) — the output is then the exact join
    * over that reproducible subset, the calibration answer
    * [[jaccardHistogram]]'s sampleFraction gives, instead of an unbounded
    * run. Opt out EXPLICITLY with [[PairBudget.Unbounded]]. The oracle
    * entries run under Auto, far below the default at every gated SF, so
    * their answers are the unbounded joins'.
    */
  def jaccardPairs(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Option[Long] = None,
      strategy: String = "auto",
      autoCountMaxDf: Long = 1000,
      autoSampleFraction: Double = 1.0,
      pairBudget: PairBudget = PairBudget.Auto,
      onDegrade: PairDegrade => Unit = _ => ()): DataFrame = {
    require(autoSampleFraction > 0 && autoSampleFraction <= 1,
      s"autoSampleFraction out of (0,1]: $autoSampleFraction")
    val idx0 = shingleIndex(df, id, text, shingleK, maxDocFreq)
    // shared stats pass + budget degrade + post-degrade maxDf rescale
    val (ShingleIndex(sets, indexed, sizes), effMaxDf) =
      statsAndDegrade(idx0, strategy, autoSampleFraction, pairBudget,
        onDegrade)

    def countPairs: DataFrame =
      interSizedPairs(indexed, sizes)
        .withColumn("jaccard", col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))

    def prefixPairs: DataFrame =
      prefixCandidates(indexed, threshold)
        .join(sets.select(col("id").as("id_a"), col("set").as("set_a")), Seq("id_a"))
        .join(sets.select(col("id").as("id_b"), col("set").as("set_b")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("set_a"), col("set_b"))))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("set_a")) + size(col("set_b")) - col("inter")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))

    strategy match {
      case "count" => countPairs
      case "prefix" => prefixPairs
      case "auto" =>
        if (effMaxDf.get <= autoCountMaxDf) countPairs else prefixPairs
      case other => throw new IllegalArgumentException(
        s"strategy must be 'auto', 'count' or 'prefix', got $other")
    }
  }

  /** Within-corpus CONTAINMENT near-dup join: pairs whose smaller shingle
    * set is at least `threshold`-covered by the larger —
    * `|S(a) ∩ S(b)| / min(|S(a)|, |S(b)|)`. The asymmetric dual of
    * [[jaccardPairs]] for the subset-duplicate shapes symmetric Jaccard
    * systematically misses: an article republished inside a digest, a
    * paragraph quoted verbatim in a larger post, a truncated crawl of a
    * page already captured whole. A 200-shingle doc fully embedded in a
    * 2000-shingle doc scores containment 1.0 but Jaccard 0.1 — below any
    * sane Jaccard cut. The within-corpus dual of [[containmentPairs]]'
    * needle-vs-corpus decontamination screen.
    *
    * Exact (no approximation): candidates and intersection counts come
    * from the SHARED [[jaccardPairs]] count-strategy machinery —
    * inverted-index self-join on 8-byte shingle fingerprints, one groupBy
    * counting co-occurrences, broadcast size joins — so this can never
    * diverge from the Jaccard join's candidate semantics. `strategy =
    * "auto"` (default) measures the max shingle df (optionally from a
    * deterministic doc sample) and picks count under `autoCountMaxDf`,
    * prefix above — [[jaccardPairs]]' runtime-statistics-then-replan
    * rule, shared so a near-dup-heavy corpus can't quadratic-blow the
    * candidate join. `strategy = "prefix"` is recall-exact AllPairs-style
    * prefix probing: each set indexes only its
    * `|s| − ceil(t·|s|) + 1` globally-rarest shingles but PROBES the full
    * posting list — containment ≥ t forces the smaller set to share
    * ≥ ceil(t·|small|) shingles, so at least one of its prefix shingles
    * hits the other side's full postings (asymmetric prefix bound; the
    * symmetric prefix×prefix join Jaccard uses is NOT recall-exact here).
    * `maxDocFreq` caps candidate blowup as in [[jaccardPairs]] (dropped
    * shingles undercount `inter` — conservative); `pairBudget` is
    * [[jaccardPairs]]' output-quadratic guard rail, shared mechanism and
    * semantics (exact join over a √(budget/estimate) doc sample when the
    * estimate exceeds the budget; ON by default via [[PairBudget.Auto]],
    * which the oracle entries sit far below at every gated SF).
    *
    * Output: (id_a, id_b, inter, sz_a, sz_b, containment) with id_a <
    * id_b and containment the exact integer ratio — bit-reproducible in
    * any engine.
    */
  def selfContainmentPairs(df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Option[Long] = None,
      strategy: String = "auto",
      autoCountMaxDf: Long = 1000,
      autoSampleFraction: Double = 1.0,
      pairBudget: PairBudget = PairBudget.Auto,
      onDegrade: PairDegrade => Unit = _ => ()): DataFrame = {
    require(autoSampleFraction > 0 && autoSampleFraction <= 1,
      s"autoSampleFraction out of (0,1]: $autoSampleFraction")
    val idx0 = shingleIndex(df, id, text, shingleK, maxDocFreq)
    // shared stats pass + budget degrade — ONE helper with jaccardPairs
    val (idx, effMaxDf) =
      statsAndDegrade(idx0, strategy, autoSampleFraction, pairBudget,
        onDegrade)
    val sized = (if (strategy == "auto")
      (if (effMaxDf.get <= autoCountMaxDf) "count" else "prefix")
    else strategy) match {
      case "count" => interSizedPairs(idx.indexed, idx.sizes)
      case "prefix" =>
        // prefix(x) probes FULL postings of y (both directions via the
        // unordered-pair dedupe) — the asymmetric containment bound
        val prefix = rarestPrefix(idx.indexed, prefixKeepCount(threshold))
        val cands = prefix.select(col("sfp"), col("id").as("id_p"))
          .join(idx.indexed.select(col("sfp"), col("id").as("id_f")), Seq("sfp"))
          .filter(col("id_p") =!= col("id_f"))
          .select(least(col("id_p"), col("id_f")).as("id_a"),
            greatest(col("id_p"), col("id_f")).as("id_b"))
          .distinct()
        // verify on the CAPPED fp sets, sizes from the TRUE pre-cap set
        // sizes — exactly interSizedPairs' semantics, so the strategies
        // agree under ANY maxDocFreq (array_intersect over the uncapped
        // string sets would NOT undercount dropped shingles the way the
        // count branch does)
        val fpSets = idx.indexed.groupBy(col("id"))
          .agg(collect_list(col("sfp")).as("__fps"))
        cands
          .join(fpSets.select(col("id").as("id_a"), col("__fps").as("__fa")),
            Seq("id_a"))
          .join(fpSets.select(col("id").as("id_b"), col("__fps").as("__fb")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("__fa"), col("__fb"))).cast("long")
              .as("inter"))
          .join(broadcast(idx.sizes.select(col("id").as("id_a"),
            col("sz").as("sz_a"))), Seq("id_a"))
          .join(broadcast(idx.sizes.select(col("id").as("id_b"),
            col("sz").as("sz_b"))), Seq("id_b"))
      case other => throw new IllegalArgumentException(
        s"strategy must be 'auto', 'count' or 'prefix', got $other")
    }
    sized
      .withColumn("containment", col("inter").cast("double") /
        least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"),
        col("sz_a").cast("long").as("sz_a"), col("sz_b").cast("long").as("sz_b"),
        col("containment"))
  }

  /** Pairwise-similarity histogram for dedup-THRESHOLD CALIBRATION: the
    * distribution of exact n-gram Jaccard over all candidate pairs
    * (pairs sharing ≥ 1 shingle), in `bins` equal-width buckets — run it
    * before committing to a near-dup threshold, so the cut is chosen
    * where the corpus's similarity mass actually bimodalizes instead of
    * folklore 0.8. Buckets are PURE INTEGER math
    * (`(inter · bins) div union`, top edge folded into the last bucket),
    * so the oracle replays bit-for-bit with no float-boundary risk.
    * Output: one row per bucket 0..bins-1 — (bucket, lo, hi, n_pairs) —
    * every bucket present even at zero.
    *
    * Scale shape: the [[jaccardPairs]] count-strategy machinery — compact
    * (id, sz, sfp) postings (shingled once via localCheckpoint), an
    * 8-byte-key posting self-join, and a (pair → bucket) projection into
    * a bins-bounded aggregation; nothing wider than longs shuffles and
    * the result is `bins` rows. `maxDocFreq` caps stop-shingle candidate
    * blowup on real corpora (dropped shingles then undercount `inter` —
    * the histogram shifts conservatively left; at the oracle SFs the
    * default None drops nothing).
    */
  def jaccardHistogram(df: DataFrame, id: Column, text: Column,
      bins: Int = 20, shingleK: Int = 3,
      maxDocFreq: Option[Long] = None,
      sampleFraction: Double = 1.0): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction out of (0,1]: $sampleFraction")
    // the production scale knob the pair-driven stress adjudication
    // points at: a similarity DISTRIBUTION estimate does not need every
    // pair, so hash-sample the DOCS deterministically (same id keeps the
    // same fate on every run/engine — the jaccardPairs auto-stats
    // pattern) and pay ~fraction² of the candidate pairs
    val base =
      if (sampleFraction >= 1.0) df
      else df.filter(TextFunctions.hash32(id.cast("string")) <
        lit((sampleFraction * 4294967296.0).toLong))
    // the df cap was tuned on FULL-corpus frequencies; a sampled shingle
    // sees ~fraction·df docs, so the cap must scale with the sample or a
    // boilerplate shingle with full df ≫ cap sneaks under it and re-opens
    // the quadratic-candidate blowup the cap exists to stop (the
    // jaccardPairs auto-stats rescale, applied in the other direction)
    val scaledCap = maxDocFreq.map(m =>
      math.max(1L, math.ceil(m * sampleFraction).toLong))
    val idx = shingleIndex(base, id, text, shingleK, scaledCap)
    val bucketed = interSizedPairs(idx.indexed, idx.sizes)
      .select(least(expr(s"(inter * $bins) div (sz_a + sz_b - inter)"),
        lit(bins - 1).cast("long")).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
    df.sparkSession.range(0, bins)
      .select(col("id").cast("int").as("bucket"))
      .join(bucketed, Seq("bucket"), "left")
      .select(col("bucket"),
        (col("bucket").cast("double") / bins).as("lo"),
        ((col("bucket") + 1).cast("double") / bins).as("hi"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
  }

  /** The shared shingle-index prologue of [[jaccardPairs]] and
    * [[jaccardHistogram]] — ONE copy of the candidate machinery, so the
    * histogram that calibrates the join's threshold can never silently
    * diverge from the join itself. `sets`: (id, set); `indexed`: the
    * (id, sz, sfp) postings after the optional df cap; `sizes`: one
    * (id, sz) row per doc.
    */
  /** Pair-budget policy for the output-quadratic pair joins
    * ([[jaccardPairs]] / [[selfContainmentPairs]]). The budget is the
    * guard rail against a corpus whose ANSWER is quadratic (dominated by
    * near-duplicates): when the statistics pass estimates more candidate
    * pairs than the budget, the index degrades to a deterministic
    * √(budget/estimate) doc hash-sample BEFORE any pair join runs.
    *
    * Default is [[PairBudget.Auto]] — ON, sized
    * `spark.sql.shuffle.partitions × spark.graft.dedup.pairsPerTask`
    * (4 M/task default ⇒ 128 M pairs at the engine's 32 partitions; a
    * 2000-partition cluster gets 8 B). A caller who truly wants the
    * unbounded exact join opts out EXPLICITLY with
    * [[PairBudget.Unbounded]]; [[PairBudget.Fixed]] pins an exact count.
    * The oracle entries run under Auto and sit far below the default at
    * every gated SF, so their answers are the unbounded joins'.
    */
  sealed trait PairBudget
  object PairBudget {
    /** shuffle partitions × `spark.graft.dedup.pairsPerTask` (default 4 M). */
    case object Auto extends PairBudget
    /** Explicit opt-out: run the unbounded exact join whatever the estimate. */
    case object Unbounded extends PairBudget
    /** Explicit candidate-pair budget. */
    final case class Fixed(pairs: Long) extends PairBudget {
      require(pairs > 0, s"pairBudget must be positive: $pairs")
    }
  }

  /** What a tripped [[PairBudget]] actually did: the statistics pass's
    * candidate-pair estimate, the budget it exceeded, and the
    * deterministic doc hash-sample fraction (√(budget/estimate)) the index
    * was degraded to. Surfaced through the `onDegrade` callback of
    * [[jaccardPairs]]/[[selfContainmentPairs]]/
    * [[Diagnostics.minhashErrorReport]] — a degraded (sampled) answer is
    * a DIFFERENT answer than the complete join, and callers must be able
    * to tell, machine-readably, which one they got. A warning is also
    * logged unconditionally whenever the guard fires.
    */
  final case class PairDegrade(estimatedPairs: Long, budget: Long,
      sampledFraction: Double)

  /** Conf key for [[PairBudget.Auto]]'s per-task pair cap. */
  val PairsPerTaskConf = "spark.graft.dedup.pairsPerTask"

  private def resolvedPairBudget(spark: SparkSession,
      pb: PairBudget): Option[Long] = pb match {
    case PairBudget.Unbounded => None
    case PairBudget.Fixed(n) => Some(n)
    case PairBudget.Auto =>
      val parts = safePartitions(
        spark.conf.get("spark.sql.shuffle.partitions", "200"),
        spark.sparkContext.defaultParallelism.toLong)
      val perTask = spark.conf.get(PairsPerTaskConf, "4000000").toLong
      require(perTask > 0, s"$PairsPerTaskConf must be positive: $perTask")
      Some(math.min(parts, Long.MaxValue / perTask) * perTask)
  }

  /** shuffle.partitions may be non-numeric on AQE-managed platforms
    * (e.g. "auto"); the DEFAULT budget path must never throw on a conf it
    * only consults for sizing — fall back to the cluster's default
    * parallelism, the same order of magnitude on any sane deployment.
    */
  private[operators] def safePartitions(raw: String,
      fallback: => Long): Long =
    math.max(1L, scala.util.Try(raw.trim.toLong).getOrElse(fallback))

  /** The shared statistics + pair-budget block of [[jaccardPairs]] and
    * [[selfContainmentPairs]] — ONE pass serves both the auto strategy
    * pick and the budget guard. Returns the (possibly budget-degraded)
    * index plus the effective max shingle df OF THAT INDEX: when the
    * degrade fires, the per-shingle df of the thinned index shrinks
    * ~linearly in the doc fraction, so the raw pre-sample maxDf is
    * rescaled by √(budget/estimate) — the count-vs-prefix pick must be
    * made against the join that will actually run, not the corpus that
    * was measured.
    */
  private def statsAndDegrade(idx0: ShingleIndex, strategy: String,
      autoSampleFraction: Double, pairBudget: PairBudget,
      onDegrade: PairDegrade => Unit): (ShingleIndex, Option[Long]) = {
    val budget = resolvedPairBudget(idx0.indexed.sparkSession, pairBudget)
    val stats =
      if (strategy == "auto" || budget.isDefined)
        Some(indexStats(idx0.indexed, autoSampleFraction))
      else None
    budget match {
      case Some(b) if stats.exists(_._2 > b) =>
        val (maxDf, est) = stats.get
        val fraction = math.sqrt(b.toDouble / est.toDouble)
        // a degraded answer must never be silently mistaken for the
        // complete join: always log, and hand callers the machine-readable
        // report (ADVICE r18: no log, flag, or metric distinguished them)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"pair budget tripped: ~$est estimated candidate pairs > " +
            s"budget $b; degrading to a deterministic " +
            f"$fraction%.6f doc hash-sample (pass PairBudget.Unbounded " +
            "for the complete join)")
        onDegrade(PairDegrade(est, b, fraction))
        (budgetSampledIndex(idx0, est, b),
          Some(math.max(1L, math.ceil(maxDf * fraction).toLong)))
      case _ => (idx0, stats.map(_._1))
    }
  }

  private[operators] case class ShingleIndex(
      sets: DataFrame, indexed: DataFrame, sizes: DataFrame)

  private def shingleIndex(df: DataFrame, id: Column, text: Column,
      shingleK: Int, maxDocFreq: Option[Long]): ShingleIndex = {
    val sets = widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), HashFunctions.wordShingleSet(
        TextFunctions.tokensWs(col("__text")), shingleK).as("set"))
    // The postings feed the stats pass AND both sides of the self-join;
    // without a checkpoint each scan re-tokenizes and re-shingles every
    // document (3× the per-row hash work, and the corpus text re-read each
    // time). localCheckpoint pins the compact (id, sz, sfp) long-rows —
    // far smaller than the text — so shingling runs exactly once. Lazy:
    // materializes on first downstream job.
    val posting = shinglePostings(sets).localCheckpoint(false)
    val sizes = posting.select(col("id"), col("sz").as("sz")).distinct()
    val indexed = maxDocFreq.fold(posting) { m =>
      val keep = posting.groupBy(col("sfp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= m).select(col("sfp"))
      posting.join(keep, Seq("sfp"))
    }
    ShingleIndex(sets, indexed, sizes)
  }

  /** (id_a, id_b, inter, sz_a, sz_b) candidate pairs from the capped
    * postings: the 8-byte-key self-join + per-pair intersection count +
    * broadcast size joins — the count-strategy core shared verbatim by
    * the threshold join and the calibration histogram.
    */
  private def interSizedPairs(indexed: DataFrame, sizes: DataFrame): DataFrame =
    indexed.select(col("sfp"), col("id").as("id_a"))
      .join(indexed.select(col("sfp"), col("id").as("id_b")), Seq("sfp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("id").as("id_a"), col("sz").as("sz_a"))),
        Seq("id_a"))
      .join(broadcast(sizes.select(col("id").as("id_b"), col("sz").as("sz_b"))),
        Seq("id_b"))

  /** ONE statistics pass over the (optionally doc-hash-sampled) postings:
    * (max shingle document frequency, estimated candidate-pair count
    * Σ_s df(s)·(df(s)−1)/2), both scaled back up by the sample fraction —
    * maxDf by 1/f, pairs by 1/f² (each pair survives a doc sample with
    * probability f²). The maxDf drives the count-vs-prefix strategy pick;
    * the pair estimate drives the [[jaccardPairs]]/[[selfContainmentPairs]]
    * pair-budget guard. Shared so the two consumers can never disagree on
    * what was measured, and so auto + budget together still cost one pass.
    */
  private[operators] def indexStats(indexed: DataFrame,
      sampleFraction: Double): (Long, Long) = {
    val stats =
      if (sampleFraction >= 1.0) indexed
      else indexed.filter(TextFunctions.hash32(col("id").cast("string")) <
        lit((sampleFraction * 4294967296.0).toLong))
    // the pair sum is an ESTIMATE for a guard — compute it in double
    // (df² on a stop-shingle over 10⁹ docs overflows a long, and ANSI
    // would throw inside the statistics pass meant to PREVENT blowups)
    val r = stats.groupBy(col("sfp")).agg(count(lit(1)).as("df"))
      .agg(max(col("df")),
        sum(col("df").cast("double") * (col("df") - 1L).cast("double")
          / lit(2.0))).head()
    if (r.isNullAt(0)) (0L, 0L) // empty corpus
    else (math.ceil(r.getLong(0) / sampleFraction).toLong,
      math.ceil(math.min(r.getDouble(1) /
        (sampleFraction * sampleFraction), Long.MaxValue.toDouble)).toLong)
  }

  /** The pair-budget degrade: when the estimated candidate-pair volume
    * exceeds `budget`, restrict the WHOLE index (sets, postings, sizes)
    * to a deterministic doc hash-sample sized so the expected surviving
    * pair count fits the budget (pairs thin quadratically in the doc
    * fraction, so fraction = sqrt(budget / estimate)) — the
    * [[jaccardHistogram]] sampling stance applied as a guard rail. The
    * output is then the EXACT pair join over a documented reproducible
    * subset — a calibration-grade answer in bounded time — instead of an
    * unbounded quadratic join (the ×64 containment stress ran 27 minutes
    * before being aborted by hand; this is the machine version of that
    * abort, placed BEFORE the work).
    */
  private def budgetSampledIndex(idx: ShingleIndex, pairEst: Long,
      budget: Long): ShingleIndex = {
    val fraction = math.sqrt(budget.toDouble / pairEst.toDouble)
    val cut = lit((fraction * 4294967296.0).toLong)
    def keep(d: DataFrame) =
      d.filter(TextFunctions.hash32(col("id").cast("string")) < cut)
    ShingleIndex(keep(idx.sets), keep(idx.indexed), keep(idx.sizes))
  }

  /** Per-set prefix keep-count `|s| − ceil(t'·|s|) + 1` in PURE INTEGER
    * arithmetic, with t' = ⌊t·2^20⌋/2^20 ≤ t. The double form
    * `ceil(lit(t) * sz)` rounds UP past the exact integer ceiling
    * whenever t·sz lands on an integer the binary product overshoots
    * (t = 7/12, sz = 108 computes 63.00000000000001 → ceil 64), making
    * the prefix one shingle too short and silently dropping a
    * threshold-boundary pair — a recall bug, not a rounding nit.
    * Rounding t DOWN only LENGTHENS the prefix: recall-safe by
    * construction, at most one extra indexed shingle.
    */
  private val PrefixM = 1L << 20

  private[operators] def prefixTNum(threshold: Double): Long =
    math.min(PrefixM, math.max(0L, math.floor(threshold * PrefixM).toLong))

  /** The pure-integer core of [[prefixKeepCount]] — exposed so
    * CurationProps' recall-safety laws certify the SHIPPED arithmetic
    * (DedupSpec pins the Column expr to this core over a sz sweep).
    */
  private[operators] def prefixKeepCountInt(threshold: Double,
      sz: Long): Long =
    sz - ((prefixTNum(threshold) * sz + PrefixM - 1) / PrefixM) + 1

  /** BIGINT literals (`L` suffix) are load-bearing: a bare `838860 * sz`
    * parses as a 32-bit multiply against an IntegerType sz and overflows
    * (ANSI ARITHMETIC_OVERFLOW) for sets of ~2561+ shingles at t = 0.8 —
    * realistic long documents, not a corner case.
    */
  private[operators] def prefixKeepCount(threshold: Double): Column =
    expr(s"sz - CAST((${prefixTNum(threshold)}L * sz + ${PrefixM - 1}L) " +
      s"div ${PrefixM}L AS INT) + 1")

  /** Each set's `keep`-count globally-rarest postings (rarity = shingle
    * document frequency, ties by fingerprint) — the prefix frame both
    * prefix strategies build on.
    */
  private def rarestPrefix(posting: DataFrame, keep: Column): DataFrame = {
    val freq = posting.groupBy(col("sfp")).agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("sfp"))
    posting.join(freq, Seq("sfp"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= keep)
      .select(col("sfp"), col("id"))
  }

  /** (id, sz, sfp) inverted-index postings from (id, set) shingle-set rows:
    * one row per (document, shingle fingerprint), with the set size carried
    * for Jaccard arithmetic. Shuffle payloads are (long, int, long) — never
    * the shingle text.
    */
  def shinglePostings(sets: DataFrame): DataFrame =
    sets.select(col("id"), size(col("set")).as("sz"),
        explode(col("set")).as("s"))
      .select(col("id"), col("sz"), TextFunctions.fingerprint64(col("s")).as("sfp"))

  /** AllPairs/PPJoin candidate pairs from an (id, sz, sfp) posting set:
    * only each set's `|s| - ceil(t·|s|) + 1` globally-rarest shingles are
    * indexed — recall-exact for Jaccard >= t (two sets with Jaccard >= t
    * must share at least one prefix shingle), and candidate volume is
    * bounded by the prefix postings even when a stop-shingle appears in
    * every document (it sorts last by rarity and never enters a prefix
    * unless a set is small enough to genuinely need it).
    */
  def prefixCandidates(posting: DataFrame, threshold: Double): DataFrame = {
    val prefix = rarestPrefix(posting, prefixKeepCount(threshold))
    prefix.select(col("sfp"), col("id").as("id_a"))
      .join(prefix.select(col("sfp"), col("id").as("id_b")), Seq("sfp"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Two-table fuzzy (record-linkage) join: pairs (left row, right row)
    * whose word-k-shingle sets have Jaccard >= `threshold` — the
    * entity-resolution shape (same title worded slightly differently across
    * two catalogs, near-identical documents across two crawls) where neither
    * side is a subset of the other, so symmetric Jaccard is the right score
    * (vs [[containmentPairs]]' asymmetric needle coverage).
    *
    * Scale shape: both sides become inverted-index postings keyed by 8-byte
    * shingle fingerprints; candidates come from ONE equality join between
    * the two posting sets (never a cartesian product), intersections are
    * counted in a single partial-aggregated groupBy, and set sizes join
    * back by id. `maxDocFreq` caps the df of indexed shingles ON EACH SIDE
    * — a stop-shingle in f_L left and f_R right rows contributes f_L·f_R
    * join rows, so at corpus scale ALWAYS set it (a shingle that common
    * carries no linkage signal anyway). Under `maxDocFreq` the score is the
    * exact Jaccard of the PRUNED shingle sets (sizes are recomputed from
    * the kept shingles, so identical documents still score 1.0); relative
    * to full-set Jaccard it is an approximation, not a lower bound.
    * Output: (left_id, right_id, jaccard) — exact integer-ratio doubles.
    */
  def jaccardJoin(left: DataFrame, lId: Column, lText: Column,
      right: DataFrame, rId: Column, rText: Column,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Option[Long] = None): DataFrame = {
    def postings(df: DataFrame, id: Column, text: Column, name: String) = {
      val sets = widen(df.select(id.as(name), text.as("__t")))
        .select(col(name), HashFunctions.wordShingleSet(
          TextFunctions.tokensWs(col("__t")), shingleK).as("set"))
      val post0 = sets.select(col(name), size(col("set")).as(s"__sz_$name"),
          explode(col("set")).as("s"))
        .select(col(name), col(s"__sz_$name"),
          TextFunctions.fingerprint64(col("s")).as("sfp"))
      val post = maxDocFreq.fold(post0) { m =>
        val keep = post0.groupBy(col("sfp")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= m).select(col("sfp"))
        post0.join(keep, Seq("sfp"))
      }
      // Sizes from the KEPT postings (one distinct row per (doc, shingle)),
      // so numerator and denominator live in the same pruned universe —
      // with full-set sizes a capped stop-shingle would bias every score
      // downward and silently drop true pairs near the threshold.
      val sizes = maxDocFreq.fold(
        sets.select(col(name), size(col("set")).as(s"__sz_$name")))(_ =>
        post.groupBy(col(name)).agg(count(lit(1)).as(s"__sz_$name")))
      (post, sizes)
    }
    val (lPost, lSizes) = postings(left, lId, lText, "left_id")
    val (rPost, rSizes) = postings(right, rId, rText, "right_id")
    lPost.select(col("sfp"), col("left_id"))
      .join(rPost.select(col("sfp"), col("right_id")), Seq("sfp"))
      .groupBy(col("left_id"), col("right_id"))
      .agg(count(lit(1)).as("inter"))
      .join(lSizes, Seq("left_id"))
      .join(rSizes, Seq("right_id"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("__sz_left_id") + col("__sz_right_id") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** Block-and-refine record linkage with an EXACT edit-distance verdict:
    * candidate pairs come from [[jaccardJoin]]'s inverted-index blocking
    * at a deliberately LOW `blockJaccard` (recall stage), then each
    * candidate pays a banded Levenshtein over the first `prefixLen` code
    * points and survives at distance ≤ `maxDist` (precision stage) — the
    * classic linkage split: never run O(prefixLen²) DP on the cross
    * product, never trust set overlap alone (shingle Jaccard is blind to
    * ORDER — "alpha beta gamma" vs "gamma beta alpha" — and to heavy
    * in-window edits; edit distance is the exact string metric). Output:
    * (left_id, right_id, dist), ordered.
    *
    * Determinism: Levenshtein is the exact unit-cost DP — an integer any
    * engine agrees on (Spark `levenshtein` ≡ DuckDB `levenshtein`);
    * prefixes are code-point slices (SQL `substring` semantics both
    * sides).
    *
    * Scale shape: the blocking stage is the documented [[jaccardJoin]]
    * shape (8-byte shingle-fp posting join, no text shuffled); only then
    * do the candidate ids join back to their prefixes — the pair table is
    * blocking-bounded and broadcast-eligible, so text moves map-side,
    * once, for matched rows only. The DP itself is `threshold`-banded
    * (`levenshtein(l, r, maxDist)` is O(maxDist·prefixLen), returning -1
    * beyond the band instead of filling the full matrix).
    */
  def editDistanceLinkage(left: DataFrame, lId: Column, lText: Column,
      right: DataFrame, rId: Column, rText: Column,
      shingleK: Int = 3, blockJaccard: Double = 0.5,
      prefixLen: Int = 100, maxDist: Int = 25,
      maxDocFreq: Option[Long] = None): DataFrame = {
    require(prefixLen > 0, s"prefixLen must be positive, got $prefixLen")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // maxDocFreq forwards to the blocking stage — set it at corpus scale
    // (the jaccardJoin contract): a LOW blockJaccard is exactly where a
    // stop-shingle's f_L·f_R posting blowup hurts most
    val cand = jaccardJoin(left, lId, lText, right, rId, rText,
      shingleK, blockJaccard, maxDocFreq)
      .select(col("left_id"), col("right_id"))
    val lp = left.select(lId.as("left_id"),
      substring(lText, 1, prefixLen).as("__lp"))
    val rp = right.select(rId.as("right_id"),
      substring(rText, 1, prefixLen).as("__rp"))
    cand.join(lp, Seq("left_id")).join(rp, Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        levenshtein(col("__lp"), col("__rp"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
      .select(col("left_id"), col("right_id"), col("dist"))
      .orderBy(col("left_id"), col("right_id"))
  }

  /** Containment (decontamination) join: for every needle document, the
    * corpus documents containing at least `threshold` of the needle's
    * k-shingles — `|S(needle) ∩ S(doc)| / |S(needle)|`. Asymmetric on
    * purpose: a benchmark prompt quoted verbatim inside a much larger
    * training document scores ~1.0 here while its Jaccard is diluted by the
    * document's extra content — the standard training-data decontamination
    * check.
    *
    * Scale shape mirrors the count-strategy Jaccard join: inverted-index
    * equality join on 8-byte shingle fingerprints (needle side is typically
    * the small benchmark set), intersections counted in one groupBy, no
    * shingle arrays or bodies shuffled. `maxDocFreq` drops stop-shingles
    * from the corpus index (a shingle in half the corpus carries no
    * contamination signal and dominates the join cost).
    * Output: (needle_id, doc_id, containment) — exact integer-ratio doubles.
    */
  def containmentPairs(needles: DataFrame, nId: Column, nText: Column,
      corpus: DataFrame, cId: Column, cText: Column,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val nSets = widen(needles.select(nId.as("needle_id"), nText.as("__t")))
      .select(col("needle_id"), HashFunctions.wordShingleSet(
        TextFunctions.tokensWs(col("__t")), shingleK).as("set"))
    val cSets = widen(corpus.select(cId.as("doc_id"), cText.as("__t")))
      .select(col("doc_id"), HashFunctions.wordShingleSet(
        TextFunctions.tokensWs(col("__t")), shingleK).as("set"))
    val nPost = nSets.select(col("needle_id"), size(col("set")).as("nsz"),
        explode(col("set")).as("s"))
      .select(col("needle_id"), col("nsz"), TextFunctions.fingerprint64(col("s")).as("sfp"))
    val cPost0 = cSets.select(col("doc_id"), explode(col("set")).as("s"))
      .select(col("doc_id"), TextFunctions.fingerprint64(col("s")).as("sfp"))
    val cPost = maxDocFreq.fold(cPost0) { m =>
      val keep = cPost0.groupBy(col("sfp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= m).select(col("sfp"))
      cPost0.join(keep, Seq("sfp"))
    }
    nPost.join(cPost, Seq("sfp"))
      .groupBy(col("needle_id"), col("doc_id"), col("nsz"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / col("nsz").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("needle_id"), col("doc_id"), col("containment"))
  }

  /** N-gram novelty of a candidate batch against a reference corpus: for
    * each batch document, the fraction of its DISTINCT word-`shingleK`-
    * grams that appear NOWHERE in the corpus — the memorization-risk /
    * freshness screen (a "new" document with novelty ≈ 0 is recombined
    * corpus text; an eval candidate with novelty ≈ 0 is leaked). The dual
    * of [[containmentPairs]]: containment asks "how much of the needle is
    * in THIS document", novelty asks "how much of the candidate exists
    * ANYWHERE in the corpus" — set membership against the corpus-wide
    * shingle union, not per-pair overlap.
    *
    * Output: (doc_id, n_shingles, n_seen, novelty) — novelty the exact
    * integer ratio `(n_shingles − n_seen) / n_shingles`. A blank document
    * carries one whole-text "" shingle (the sub-k contract of
    * [[graft.functions.HashFunctions.wordShingleSet]], identical in the
    * SQL replay), so n_shingles ≥ 1 always; the n_shingles = 0 guard is
    * defensive only.
    *
    * Scale shape: the corpus collapses to DISTINCT shingle fingerprints
    * once (8-byte rows — at extreme scale swap in the
    * [[graft.functions.BloomExpressions]] filter for the membership
    * probe and accept its false-positive rate as a novelty
    * UNDER-estimate); the batch's postings LEFT-join that set on the
    * 8-byte key and one partial-aggregated count per doc follows. Batch
    * text never shuffles; candidates are batch-posting-sized, never
    * corpus × batch.
    */
  def noveltyScores(batch: DataFrame, bId: Column, bText: Column,
      corpus: DataFrame, cText: Column, shingleK: Int = 3): DataFrame =
    noveltyScoresAgainstFps(batch, bId, bText,
      corpusShingleFps(corpus, cText, shingleK), shingleK)

  /** The DISTINCT shingle-fingerprint set of a corpus — the reference
    * side of [[noveltyScores]], exposed so a maintained/streamed state
    * ([[graft.streaming.Streams.NoveltyIngest]]) can be folded
    * incrementally instead of rebuilt. One (sfp) long column.
    */
  def corpusShingleFps(corpus: DataFrame, cText: Column,
      shingleK: Int = 3): DataFrame =
    widen(corpus.select(cText.as("__t")))
      .select(explode(HashFunctions.wordShingleSet(
        TextFunctions.tokensWs(col("__t")), shingleK)).as("s"))
      .select(TextFunctions.fingerprint64(col("s")).as("sfp"))
      .distinct()

  /** [[noveltyScores]] against a pre-built (sfp) reference set. */
  def noveltyScoresAgainstFps(batch: DataFrame, bId: Column, bText: Column,
      corpusFps: DataFrame, shingleK: Int = 3): DataFrame = {
    val bSets = widen(batch.select(bId.as("doc_id"), bText.as("__t")))
      .select(col("doc_id"), HashFunctions.wordShingleSet(
        TextFunctions.tokensWs(col("__t")), shingleK).as("set"))
    val bPost = bSets.select(col("doc_id"), explode(col("set")).as("s"))
      .select(col("doc_id"), TextFunctions.fingerprint64(col("s")).as("sfp"))
    val cFps = corpusFps.select(col("sfp")).distinct()
      .select(col("sfp"), lit(1).as("__seen"))
    val counts = bPost.join(cFps, Seq("sfp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen").isNotNull, 1L).otherwise(0L)).as("n_seen"))
    // left-anchor on the batch ids: blank docs DO post one "" shingle
    // (the sub-k contract), so this anchor is only reachable for
    // NULL-text rows (tokensWs(null) -> null set -> no postings), which
    // must still report a row rather than vanish from the screen
    bSets.select(col("doc_id")).distinct()
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("novelty",
        when(col("n_shingles") === 0L, lit(0.0))
          .otherwise((col("n_shingles") - col("n_seen")).cast("double") /
            col("n_shingles").cast("double")))
  }

  /** Deletion propagation ("right to be forgotten" / poisoned-source
    * removal): given a set of document ids to purge, produce the purge
    * MANIFEST — every corpus document that must go, with why. Three
    * reasons, by priority:
    *   1. `direct`    — the id is in the deletion set;
    *   2. `exact_dup` — byte-identical text to some deleted document
    *                    (same 60-bit fingerprint);
    *   3. `near_dup`  — word-`shingleK`-gram Jaccard ≥ `threshold` with
    *                    some deleted document (a trivially edited copy
    *                    survives an id/exact purge and keeps the content
    *                    in the corpus — the reason naive deletes fail).
    * `matched_id` is the smallest deleted id that triggered the row
    * (deterministic tiebreak); the surviving corpus is the caller's
    * anti-join against this manifest, kept separate so the purge is
    * auditable before it is applied.
    *
    * Scale shape: the deletion set is request-sized BY CONSTRUCTION —
    * its ids and its documents' shingle postings broadcast. The direct
    * pass is a broadcast semi-join; the exact pass is a map-side
    * fingerprint + broadcast probe (corpus text never shuffles); the
    * near pass is the [[jaccardJoin]] inverted-index machinery with the
    * deleted docs as the small side — candidates are bounded by the
    * deleted shingles' corpus document frequency, and `maxDocFreq` caps
    * the stop-shingle worst case. Reason arbitration is a min(struct)
    * aggregation over the union — manifest-sized, not corpus-sized.
    */
  def purgeDeletes(df: DataFrame, id: Column, text: Column,
      deleteIds: DataFrame, deleteId: Column,
      shingleK: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold out of (0,1]: $threshold")
    val src = df.select(id.as("id"), text.as("__text"))
    val dels = deleteIds.select(deleteId.as("del_id")).distinct()
    // request-sized by contract, but its subtree is a full-corpus
    // semi-join and it feeds THREE consumers (direct, delFps, the
    // jaccardJoin right side) — checkpoint so the corpus pays that scan
    // once (the shingleIndex pattern; lazy, materializes on first use)
    val delDocs = src.join(broadcast(dels), col("id") === col("del_id"), "semi")
      .localCheckpoint(false)
    val direct = delDocs
      .select(col("id"), lit(1).as("pri"), col("id").as("matched_id"))
    // one (fp → min deleted id) row per distinct deleted fingerprint;
    // request-sized, broadcasts
    val delFps = delDocs
      .select(TextFunctions.fingerprint64(col("__text")).as("fp"),
        col("id").as("del_id"))
      .groupBy(col("fp")).agg(min(col("del_id")).as("matched_id"))
    val exact = src
      .select(col("id"), TextFunctions.fingerprint64(col("__text")).as("fp"))
      .join(broadcast(delFps), Seq("fp"))
      .select(col("id"), lit(2).as("pri"), col("matched_id"))
    val near = jaccardJoin(
        src, col("id"), col("__text"),
        delDocs, col("id"), col("__text"),
        shingleK, threshold, maxDocFreq)
      .groupBy(col("left_id").as("id"))
      .agg(min(col("right_id")).as("matched_id"))
      .select(col("id"), lit(3).as("pri"), col("matched_id"))
    direct.unionByName(exact).unionByName(near)
      .groupBy(col("id"))
      .agg(min(struct(col("pri"), col("matched_id"))).as("m"))
      .select(col("id").as("doc_id"),
        when(col("m.pri") === 1, "direct")
          .when(col("m.pri") === 2, "exact_dup")
          .otherwise("near_dup").as("reason"),
        col("m.matched_id").as("matched_id"))
  }

  // --------------------------------------------------------------- SimHash

  /** Number of SimHash bits: 60 (what a 15-hex-digit md5 prefix yields),
    * split into 4 blocks of 15 bits for the hamming<=3 pigeonhole guarantee.
    */
  val SimHashBits = 60
  val SimHashBlocks = 4

  /** 60-bit SimHash over space-separated tokens (with multiplicity):
    * per-bit vote sum of md5-derived token hashes, bit set where the vote is
    * positive. Single projection, no shuffle — native
    * [[org.apache.spark.sql.graft.SimHash60]] expression (one compiled loop
    * per row instead of interpreted zip_with/aggregate chains).
    */
  def simHash(text: Column): Column =
    HashFunctions.simHash60(TextFunctions.tokensWs(text))

  /** 128-bit SimHash as `array<long>` [w0, w1] — the corpus-scale signature
    * (native [[org.apache.spark.sql.graft.SimHash128]]).
    */
  def simHash128(text: Column): Column =
    HashFunctions.simHash128(TextFunctions.tokensWs(text))

  // ---------------------------------------------------- winnowing fingerprints

  /** Winnowing document fingerprints (Schleimer/Wilkens/Aiken, SIGMOD'03):
    * md5-derived 32-bit hashes of word `shingleK`-shingles, then the minimum
    * hash of every `window`-wide sliding window, distinct — the guarantee is
    * any shared substring of at least `shingleK + window - 1` words produces
    * at least one shared fingerprint. A pure projection (fingerprints are
    * positions-free longs); matching documents share fingerprints via the
    * same inverted-index join as n-gram Jaccard, at a fraction of the
    * posting size (≈ 2/(window+1) of the shingle count).
    */
  def winnowFingerprints(text: Column, shingleK: Int = 3, window: Int = 4): Column =
    HashFunctions.winnowFingerprints(TextFunctions.tokensWs(text), shingleK, window)

  // ------------------------------------------------- embedding-cosine dedup

  /** Embedding-cosine near-duplicate pairs, exact: all-pairs self-join
    * scored by the native CosineSimilarity expression. Quadratic — correct
    * at any threshold, intended for moderate corpora or post-blocking
    * verification; [[embeddingPairsLsh]] is the scale path.
    */
  def embeddingPairsExact(df: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame = {
    val v = widen(df.select(id.as("id"), vec.as("v")))
    val l = v.select(col("id").as("id_a"), col("v").as("va"))
    val r = v.select(col("id").as("id_b"), col("v").as("vb"))
    l.join(r, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        org.apache.spark.sql.graft.VectorFunctions.cosineSim(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs at scale: `tables` independent
    * sign-random-projection bucket tables (distinct deterministic plane
    * seeds), candidates = pairs sharing any bucket, verified by exact
    * cosine. Recall is probabilistic — for angle θ a pair collides in one
    * table with p = (1-θ/π)^bits, overall 1-(1-p)^tables; precision is
    * exact. Shuffles carry (id, bucket) longs, never the vectors.
    */
  def embeddingPairsLsh(df: DataFrame, id: Column, vec: Column,
      threshold: Double, bits: Int = 12, tables: Int = 4): DataFrame = {
    val v = widen(df.select(id.as("id"), vec.as("v")))
    val buckets = (0 until tables).map { t =>
      v.select(col("id"),
        HashFunctions.srpBucket(col("v"), bits, seed = s"plane$t").as("b"),
        lit(t).as("tbl"))
    }.reduce(_ unionAll _)
    val cand = buckets.select(col("tbl"), col("b"), col("id").as("id_a"))
      .join(buckets.select(col("tbl"), col("b"), col("id").as("id_b")), Seq("tbl", "b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(v.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        org.apache.spark.sql.graft.VectorFunctions.cosineSim(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest centroid from a
    * trained coarse quantizer, then prune near-duplicates WITHIN each
    * cluster only — a doc is dropped when some lower-id doc in the same
    * cluster has cosine >= `threshold` with it (the deterministic
    * keep-lowest-id variant of the paper's keep-one-per-dup-group rule;
    * single-pass, so a dropped doc's own duplicates are judged against it
    * too, like [[exact]]'s keep-first convention).
    *
    * Output: one row per input vector — (id, cid, kept) — so the result
    * doubles as the cluster assignment table.
    *
    * Scale shape: the quantizer is broadcast and assignment is an argmax
    * partial-aggregated before its shuffle (n rows exchanged, not n×K, same
    * as [[graft.operators.Similarity.ivfTopKWith]]); the pair scan is an
    * equality self-join on `cid`, so candidate count is Σ cluster² — K
    * controls the quadratic term exactly as in the paper (K ≈ n/expected
    * cluster size; with balanced clusters the scan is n²/K, and vectors
    * travel once per side of one equality join). For skewed clusters, cap
    * or split hot cells upstream (AQE skew-join handles the shuffle side).
    */
  def semanticDedup(df: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions
    val v = widen(df.select(id.as("id"), vec.as("v")))
    val assigned =
      Similarity.assignToCentroids(v, col("id"), col("v"), centroids)
    val l = assigned.select(col("cid"), col("id").as("id_a"), col("v").as("va"))
    val r = assigned.select(col("cid"), col("id").as("id_b"), col("v").as("vb"))
    val dropped = l.join(r, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosineSim(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.select(col("id"), col("cid"))
      .join(dropped.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cid"), col("__dup").isNull.as("kept"))
  }

  /** Incremental SemDeDup for continuous ingestion: the admitted corpus
    * lives as an assignment-table state (id, cid, v); a new batch is
    * cluster-assigned, pruned within itself (keep-lowest-id, as
    * [[semanticDedup]]), then members with a same-cluster state neighbor
    * at cosine >= `threshold` are dropped; survivors join the state.
    * Returns (admitted (id, cid), next state). O(batch × cluster-slice of
    * state) per run — the batch meets only its own clusters' state rows
    * via the cid equality join, never the whole corpus; bucket the
    * persisted state by cid to make that join shuffle-free.
    */
  def semanticDedupIncremental(batch: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, state: DataFrame, threshold: Double)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.graft.VectorFunctions
    val asg = Similarity.assignToCentroids(
      widen(batch.select(id.as("id"), vec.as("v"))), col("id"), col("v"),
      centroids)
    val l = asg.select(col("cid"), col("id").as("id_a"), col("v").as("va"))
    val r = asg.select(col("cid"), col("id").as("id_b"), col("v").as("vb"))
    val dropIntra = l.join(r, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosineSim(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
    val intra = asg.join(dropIntra, Seq("id"), "left_anti")
    val dropVsState = intra
      .join(state.select(col("cid"), col("v").as("sv")), Seq("cid"))
      .filter(VectorFunctions.cosineSim(col("v"), col("sv")) >= threshold)
      .select(col("id")).distinct()
    val admitted = intra.join(dropVsState, Seq("id"), "left_anti")
    (admitted.select(col("id"), col("cid")), state.unionAll(admitted))
  }

  /** Semantic decontamination: screen the training corpus against an
    * eval/benchmark set in EMBEDDING space — the SemDeDup-style complement
    * to the n-gram [[containmentPairs]] screen (paraphrased benchmark
    * leakage has no shingle overlap but sits close in embedding space).
    * Per corpus document: the max cosine to ANY needle, the worst
    * (closest) needle's id (ties → lowest id), and the `contaminated`
    * flag at `threshold`. Keep the report, not just the drop — leakage
    * audits need to see WHICH benchmark item a document matched.
    *
    * Scale shape: eval sets are 10³–10⁶ rows — tiny against a 100 TB
    * corpus — so the needles broadcast and scoring is a map-side
    * broadcast loop over the corpus scan; the per-id max is partial-
    * aggregated before its exchange, so the one shuffle carries a single
    * (id, needle, cos, flag)-sized row per corpus document and corpus
    * vectors never shuffle. Beyond broadcastable needle sets, pre-bucket
    * both sides by SRP key ([[Similarity.lshTopK]]'s shape) and screen
    * within buckets. Zero-norm vectors have no cosine — exclude them
    * upstream (their NaN would rank as the max on both engines, but the
    * report would be meaningless).
    */
  def semanticDecontaminate(corpus: DataFrame, id: Column, vec: Column,
      needles: DataFrame, needleId: Column, needleVec: Column,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions
    val c = widen(corpus.select(id.as("id"), vec.as("__cv")))
    val n = needles.select(needleId.as("__nid"), needleVec.as("__nv"))
    // LEFT join on an always-true condition: with needles present it is
    // the plain broadcast loop, but an EMPTY needle set (a mistyped
    // benchmark predicate) still yields one all-null row per corpus doc —
    // the report keeps its one-row-per-document contract (null needle,
    // null cosine, contaminated = false) instead of silently returning
    // nothing, which a "keep NOT contaminated" inner join downstream
    // would have turned into dropping the whole corpus
    c.join(broadcast(n), lit(true), "left")
      .select(col("id"), col("__nid"),
        VectorFunctions.cosineSim(col("__cv"), col("__nv")).as("__cos"))
      .groupBy(col("id"))
      .agg(max(col("__cos")).as("max_cos"),
        max_by(col("__nid"),
          struct(col("__cos").as("c"), (-col("__nid")).as("t")))
          .as("worst_needle"))
      .select(col("id"), col("worst_needle"), col("max_cos"),
        coalesce(col("max_cos") >= threshold, lit(false)).as("contaminated"))
  }

  /** [[semanticDecontaminate]] for needle sets too large to broadcast
    * (screening one corpus snapshot against another, not against a small
    * benchmark): both sides get an SRP bucket key
    * ([[Similarity.srpBucket]], deterministic md5 planes) and candidates
    * come from an 8-byte bucket EQUALITY join — per-doc work is the
    * needle occupancy of its bucket (~needles/2^bits), never the needle
    * set. With `multiProbe` the NEEDLE side additionally lands in every
    * bucket at Hamming distance 1 (bits+1 keys per needle — the standard
    * multi-probe trade, exploded on whichever side is smaller; here the
    * needles, so the corpus stays one row per doc).
    *
    * PRECISION is exact (every reported cosine is really computed);
    * RECALL is probabilistic — a distant-bucket near-needle can be
    * missed, so `max_cos` is a LOWER bound and `contaminated = false` is
    * "no evidence found", not a proof. Gate a bits/multiProbe setting
    * with [[Similarity.recallReport]] against the exact screen on a
    * sampled probe set before trusting it, exactly like the ANN indexes.
    * Docs whose bucket holds no needle candidate report (null, null,
    * false) — the per-document output contract is kept via the left
    * join on the candidate maxima.
    */
  def semanticDecontaminateLsh(corpus: DataFrame, id: Column, vec: Column,
      needles: DataFrame, needleId: Column, needleVec: Column,
      threshold: Double, bits: Int = 8,
      multiProbe: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graft.VectorFunctions
    val c = widen(corpus.select(id.as("id"), vec.as("__cv")))
      .withColumn("__bkt", Similarity.srpBucket(col("__cv"), bits))
    val n0 = needles.select(needleId.as("__nid"), needleVec.as("__nv"))
      .withColumn("__bkt", Similarity.srpBucket(col("__nv"), bits))
    val n =
      if (!multiProbe) n0
      else n0.select(col("__nid"), col("__nv"),
        explode(Similarity.multiProbeKeys(col("__bkt"), bits)).as("__bkt"))
    // LEFT join on the bucket key: docs whose bucket holds no needle get
    // one null-needle row, so the per-document contract holds in the
    // SAME pass (max/max_by ignore nulls → (null, null, false)) — no
    // second corpus scan, no extra id-keyed spine join
    c.join(n, Seq("__bkt"), "left")
      .select(col("id"), col("__nid"),
        VectorFunctions.cosineSim(col("__cv"), col("__nv")).as("__cos"))
      .groupBy(col("id"))
      .agg(max(col("__cos")).as("max_cos"),
        max_by(col("__nid"),
          struct(col("__cos").as("c"), (-col("__nid")).as("t")))
          .as("worst_needle"))
      .select(col("id"), col("worst_needle"), col("max_cos"),
        coalesce(col("max_cos") >= threshold, lit(false)).as("contaminated"))
  }

  /** Near-duplicate pairs by SimHash hamming distance <= maxHamming.
    *
    * Candidates via the block trick: the 60-bit signature in `blocks` equal
    * blocks — any pair within hamming `blocks - 1` must agree exactly on at
    * least one block (pigeonhole), so an equality join on (block_idx,
    * block_value) has recall exactly 1. Output: (id_a, id_b, hamming).
    *
    * Block-count/width trade-off at corpus scale: expected bucket size is
    * n / 2^(60/blocks), and the self-join emits O(Σ bucket²) candidates —
    * `blocks` must exceed `maxHamming` but should otherwise be as SMALL as
    * the tolerance allows (wider block keys → smaller buckets). The default
    * (4 × 15-bit) serves hamming <= 3 up to ~10^8 docs; beyond that, cut
    * `maxHamming` (e.g. 2 with blocks = 3 → 20-bit keys), or pre-partition
    * the corpus (e.g. by language/source) so each join runs within a slice.
    */
  def simHashPairs(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, blocks: Int = SimHashBlocks): DataFrame = {
    require(maxHamming < blocks, s"maxHamming=$maxHamming needs > $maxHamming blocks for exact recall")
    require(SimHashBits % blocks == 0, s"blocks=$blocks must divide $SimHashBits")
    val bits = SimHashBits / blocks
    val sh = widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), simHash(col("__text")).as("sh"))
    val blk = sh.select(col("id"), col("sh"), posexplode(
      transform(sequence(lit(0), lit(blocks - 1)),
        b => call_function("shiftright", col("sh"), b * bits)
          .bitwiseAND(lit((1L << bits) - 1)))
    ).as(Seq("block", "block_val")))
    val l = blk.select(col("block"), col("block_val"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val r = blk.select(col("block"), col("block_val"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("block", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate pairs by 128-bit SimHash hamming distance — the
    * 10^9+-document scale path: at the default `blocks = 4` the pigeonhole
    * keys are 32 bits wide, so expected bucket size is n/2^32 (vs n/2^15 for
    * the 60-bit/4-block signature) and the candidate self-join stays linear
    * far beyond where [[simHashPairs]] turns quadratic. Same recall
    * guarantee: hamming <= blocks - 1 pairs agree on >= 1 block exactly.
    *
    * `blocks` must divide 128 with a block width that fits a word
    * (2, 4, 8, 16, …); wider tolerance → more blocks (8 × 16-bit serves
    * hamming <= 7). Output: (id_a, id_b, hamming).
    */
  def simHashPairs128(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, blocks: Int = 4): DataFrame = {
    require(maxHamming < blocks, s"maxHamming=$maxHamming needs > $maxHamming blocks for exact recall")
    require(blocks >= 2 && 128 % blocks == 0 && (128 / blocks) <= 64 && 64 % (128 / blocks) == 0,
      s"blocks=$blocks must split 128 bits into word-aligned blocks (2, 4, 8, 16, 32, 64)")
    val width = 128 / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sh = widen(df.select(id.as("id"), text.as("__text")))
      .select(col("id"), simHash128(col("__text")).as("sh"))
    val blk = sh.select(col("id"), col("sh"), posexplode(expr(
      s"""transform(sequence(0, ${blocks - 1}), b ->
         |  shiftright(element_at(sh, CAST((b * $width) div 64 AS INT) + 1),
         |             CAST((b * $width) % 64 AS INT)) & ${mask}L)""".stripMargin))
      .as(Seq("block", "block_val")))
    val l = blk.select(col("block"), col("block_val"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val r = blk.select(col("block"), col("block_val"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    val ham = (
      bit_count(element_at(col("sh_a"), 1).bitwiseXOR(element_at(col("sh_b"), 1))) +
      bit_count(element_at(col("sh_a"), 2).bitwiseXOR(element_at(col("sh_b"), 2)))
    ).cast("int")
    l.join(r, Seq("block", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), ham.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- bloom prefilter

  /** Builds a serialized bloom filter over `needles`' key column, sized for
    * `fpp` at the needle count. One aggregation job over the (small) needle
    * side; partial blooms OR-merge map-side so the shuffle carries one
    * bit-buffer per partition. Returns None for an empty needle set.
    */
  private def buildBloom(needles: DataFrame, nKey: Column, fpp: Double): Option[Array[Byte]] = {
    import org.apache.spark.sql.graft.BloomFunctions
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val n = needles.count()
    if (n == 0) return None
    val bits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    // Spark caps the aggregate at spark.sql.optimizer.runtime.bloomFilter.
    // maxNumItems/maxNumBits (4M/67M default) — raise those confs for
    // needle sets beyond that; the probe side has no such limit.
    val bytes = needles
      .select(BloomFunctions.bloomAgg(BloomFunctions.keyHash(nKey), n, bits).as("bf"))
      .head.getAs[Array[Byte]](0)
    Option(bytes)
  }

  /** Exact semi-join of a huge corpus against a small needle set, with a
    * bloom prefilter: a codegen'd, map-only `might_contain` probe drops the
    * (1 - fpp) fraction of corpus rows that cannot match BEFORE the join,
    * so the join input is |matches| + |corpus|·fpp rows instead of
    * |corpus|. The trailing equality join makes the result EXACT (a bloom
    * has no false negatives — only false positives, which the join then
    * rejects).
    *
    * This is the contamination-CHECK shape: "which corpus rows collide with
    * the eval/benchmark set". Keys can be raw content or any fingerprint
    * column; pass a fingerprint to keep the join shuffle narrow at scale.
    */
  def bloomSemiJoin(corpus: DataFrame, cKey: Column, needles: DataFrame,
      nKey: Column, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graft.BloomFunctions
    buildBloom(needles, nKey, fpp) match {
      case None => corpus.limit(0)
      case Some(bytes) =>
        corpus.filter(BloomFunctions.mightContain(bytes, BloomFunctions.keyHash(cKey)))
          .join(needles.select(nKey.as("__needle_key")).distinct(),
            cKey === col("__needle_key"), "left_semi")
    }
  }

  /** Exact decontamination (anti-join) of a huge corpus against a small
    * needle set. Corpus rows whose bloom probe says "definitely not
    * present" pass through with NO join at all (map-only); only the
    * |corpus|·fpp + |matches| maybe-rows go through the exact anti-join.
    * At 100 TB this replaces a full-corpus shuffle (or a giant broadcast of
    * raw needles) with an MB-scale bloom literal plus a join over a sliver.
    *
    * The two branches scan the corpus twice; both scans are map-only and
    * column-pruned, which beats shuffling the full corpus once. Callers
    * holding the corpus in memory can persist it first.
    */
  def bloomAntiJoin(corpus: DataFrame, cKey: Column, needles: DataFrame,
      nKey: Column, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graft.BloomFunctions
    buildBloom(needles, nKey, fpp) match {
      case None => corpus
      case Some(bytes) =>
        val might = BloomFunctions.mightContain(bytes, BloomFunctions.keyHash(cKey))
        val clean = corpus.filter(!might)
        val maybe = corpus.filter(might)
          .join(needles.select(nKey.as("__needle_key")).distinct(),
            cKey === col("__needle_key"), "left_anti")
        clean.unionAll(maybe)
    }
  }

  // -------------------------------------------- repeated-substring removal

  /** Character-level cross-document repeated-span detection (the
    * "deduplicate training data at the substring level" move): every
    * `window`-char tile at offsets 0, stride, 2·stride, … is fingerprinted;
    * tiles whose content appears in >= `minDocs` distinct documents mark a
    * duplicated span [pos, pos+window); overlapping/adjacent spans within a
    * document merge into maximal intervals. Unlike [[TextIndex.segmentDedup]]
    * (aligned token segments), `stride < window` makes detection robust to
    * alignment shift between copies: any shared run of
    * >= window + stride - 1 chars is guaranteed to contain a common tile in
    * both documents regardless of where it starts.
    *
    * Returns one row per merged interval: (id, span_start, span_end).
    *
    * Scale shape: tiling is a narrow map-only projection (~n_chars/stride
    * rows of (id, pos, 8-byte fp) — document bodies are never shuffled);
    * duplicated-fingerprint discovery is one partial-aggregated groupBy on
    * the fp; marking is an equality semi-join on the same 8-byte key; the
    * interval merge is a per-document window whose partition size is bounded
    * by n_chars/stride of a single document. No all-pairs stage anywhere —
    * cost is O(total_chars/stride) rows through two compact-key shuffles.
    */
  def repeatedSpanIntervals(df: DataFrame, id: Column, text: Column,
      window: Int = 64, stride: Int = 32, minDocs: Long = 2): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    import org.apache.spark.sql.expressions.{Window => W}
    val tiles = widen(df)
      .select(id.as("__id"), text.as("__t"))
      .filter(length(col("__t")) >= window)
      .select(col("__id"), col("__t"),
        explode(sequence(lit(0), length(col("__t")) - window, lit(stride)))
          .as("__pos"))
      .select(col("__id"), col("__pos"),
        TextFunctions.fingerprint64(col("__t").substr(col("__pos") + 1, lit(window)))
          .as("__fp"))
    val dupFps = tiles.groupBy(col("__fp"))
      .agg(countDistinct(col("__id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__fp"))
    val hits = tiles.join(dupFps, Seq("__fp"), "left_semi")
    val byPos = W.partitionBy(col("__id")).orderBy(col("__pos"))
    // Fixed-width tiles sorted by start: previous interval's end is
    // lag(pos)+window, so a new merged interval begins only when the gap to
    // the previous start STRICTLY exceeds the window — touching spans
    // [p, p+w) and [p+w, p+2w) therefore merge into one interval; a new one
    // opens from the first tile that leaves a genuine gap (matches the
    // oracle, which uses the same strict comparison).
    val flagged = hits.withColumn("__new",
      when(col("__pos") >
        coalesce(lag(col("__pos"), 1).over(byPos), lit(-2L * window)) + window,
        lit(1)).otherwise(lit(0)))
    flagged
      .withColumn("__cluster",
        sum(col("__new")).over(byPos.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("__id"), col("__cluster"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + window).as("span_end"))
      .select(col("__id").as("id"), col("span_start").cast("long"),
        col("span_end").cast("long"))
  }

  /** Per-document summary of [[repeatedSpanIntervals]]: every input document
    * appears once with the merged-span count, characters covered by
    * duplicated spans, and characters that would survive removal.
    */
  def repeatedSpanStats(df: DataFrame, id: Column, text: Column,
      window: Int = 64, stride: Int = 32, minDocs: Long = 2): DataFrame = {
    val spans = repeatedSpanIntervals(df, id, text, window, stride, minDocs)
    val perDoc = spans.groupBy(col("id"))
      .agg(count(lit(1)).as("__n"),
        sum(col("span_end") - col("span_start")).as("__rm"))
    df.select(id.as("id"), length(text).cast("long").as("__len"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("__n"), lit(0L)).as("n_spans"),
        coalesce(col("__rm"), lit(0L)).as("removed_chars"),
        (col("__len") - coalesce(col("__rm"), lit(0L))).as("kept_chars"))
  }

  /** Removes the duplicated spans in place, returning (id, clean_text) for
    * every document. The splice folds each document's (few, merged) spans
    * left-to-right; spans are collected per doc so the fold input is small
    * regardless of corpus size.
    */
  def removeRepeatedSpans(df: DataFrame, id: Column, text: Column,
      window: Int = 64, stride: Int = 32, minDocs: Long = 2): DataFrame = {
    val spans = repeatedSpanIntervals(df, id, text, window, stride, minDocs)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e")))).as("__spans"))
    df.select(id.as("id"), text.as("__t"))
      .join(spans, Seq("id"), "left")
      .select(col("id"),
        when(col("__spans").isNull, col("__t")).otherwise(
          concat(
            aggregate(col("__spans"),
              struct(lit("").as("acc"), lit(0L).as("from")),
              (st, sp) => struct(
                concat(st.getField("acc"),
                  col("__t").substr((st.getField("from") + 1).cast("int"),
                    (sp.getField("s") - st.getField("from")).cast("int")))
                  .as("acc"),
                sp.getField("e").as("from")),
              st => st.getField("acc")),
            col("__t").substr(
              (coalesce(element_at(col("__spans"), -1).getField("e"), lit(0L)) + 1)
                .cast("int"),
              length(col("__t"))))
        ).as("clean_text"))
  }
}
