package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{Snapshot, Sources, StoredLayout}
import graft.sources.Sources.MaintCheckpointSyntax

/** Deduplication operators over `documents` — the LLM-pipeline dedup
  * family (BASELINE.json north star): exact (hash), MinHash+LSH banding,
  * SimHash, and bucketed exact n-gram Jaccard.
  *
  * Scale design:
  *  - exact dedup is one shuffle on the content hash (no skew: hashes
  *    are uniform);
  *  - MinHash/LSH is the 100 TB near-dup path: signatures are computed
  *    array-natively per document (no explode of shingle rows), the
  *    self-join runs on tiny band buckets instead of all pairs —
  *    O(n·candidates), never O(n²);
  *  - the bucketed exact-Jaccard operator bounds the pair space by
  *    (lang, length-band) blocking — the classic blocking fallback when
  *    candidate recall must be exact within a block;
  *  - every hash is md5-derived (bit-identical across engines), so the
  *    whole family is DuckDB-oracle-checkable.
  */
object Dedup {

  /** Spread rows across the cluster before compute-heavy per-document
    * stages (shingling, hashing, explode). A single parquet file with
    * one row group scans as ONE partition — without this, the whole
    * shingle/hash pipeline runs on one core. At real scale the input
    * has many splits and this is one cheap extra shuffle of the
    * narrow documents projection. The partition count is EXPLICIT:
    * AQE would otherwise coalesce the shuffle to one partition by
    * byte size, defeating the point for CPU-heavy, small-byte stages.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))

  /** Mersenne-ish prime > 2^32 for minhash universal hashing. */
  val P: Long = 4294967311L

  /** 16 fixed (a, b) universal-hash constants; a < 2^30 keeps a·v+b
    * within signed-64 range for v < 2^32.
    */
  val minhashAB: Seq[(Long, Long)] = Seq(
    (387420489L, 1000000007L), (268435399L, 998244353L),
    (536870909L, 777767777L), (479001599L, 123456791L),
    (715827883L, 899809343L), (999999937L, 433494437L),
    (86028121L, 370248451L), (104395301L, 54018521L),
    (122949823L, 982451653L), (141650939L, 275604541L),
    (160481183L, 715225739L), (179424673L, 472882027L),
    (198491317L, 613651349L), (217645177L, 236887691L),
    (236887691L, 198491317L), (256203161L, 15485863L))

  val numBands = 4
  val rowsPerBand = 4

  /** w-token shingles (w=3) from a MATERIALIZED token-array column,
    * deduplicated — the unit set for Jaccard.
    *
    * Callers must pass a projected column (e.g. `withColumn("tk",
    * Text.tokens(...))`), never `Text.tokens(text)` inline: a lambda
    * body re-evaluates every embedded subexpression per element, so an
    * inline split() would re-tokenize the document 3× per shingle.
    */
  def shinglesFromTokens(t: Column, w: Int = 3): Column = {
    val grams = when(size(t) >= w,
        transform(sequence(lit(1), size(t) - (w - 1)),
          i => concat_ws(" ", (0 until w).map(o => element_at(t, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
    array_distinct(grams)
  }

  /** doc_id + one row per distinct shingle.
    *
    * The explode sits DIRECTLY above the token projection: a Generate
    * node blocks CollapseProject, so the token array is materialized
    * once per document. Chaining `withColumn("ss", ...)` + filters
    * instead lets Catalyst inline the token split back into the shingle
    * lambda — re-tokenizing the document per element. Documents shorter
    * than w tokens explode to zero rows (no filter needed).
    */
  private def explodedShingles(documents: DataFrame, w: Int): DataFrame =
    spread(documents)
      .withColumn("tk", Text.tokens(col("text")))
      .select(col("doc_id"), explode(shinglesFromTokens(col("tk"), w)).as("s"))

  /** doc_id + one row per distinct 60-bit shingle hash — the exploded
    * form every co-occurrence JOIN uses (8-byte keys through the
    * shuffle; see jaccardPairs for the payload rationale).
    */
  private def explodedShingleHashes(documents: DataFrame, w: Int): DataFrame =
    spread(documents)
      .withColumn("tk", Text.tokens(col("text")))
      .select(col("doc_id"), explode(array_distinct(
        transform(shinglesFromTokens(col("tk"), w),
          s => Text.tokenHash60(s)))).as("s"))

  /** Exact dedup: keep the lowest doc_id per identical text (md5 key —
    * grouping by a 16-byte hash, not the full text, is what makes the
    * shuffle payload small at 100 TB).
    */
  def exactDedup(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    documents
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL exact dedup — the production pipeline shape: an
    * incoming batch dedups against the EXISTING corpus index (a table
    * of already-seen content hashes), not against itself — a left-anti
    * join on the 16-byte md5, so the nightly batch never rescans the
    * historical corpus text (the index is the only thing that grows,
    * and it shuffles hashes, not documents). Within-batch duplicates
    * then collapse with the same keep-lowest-id rule as [[exactDedup]].
    */
  def incrementalDedup(incoming: DataFrame, seenHashes: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    incoming
      .join(seenHashes.select(col("seen_hash")),
        md5(col("text")) === col("seen_hash"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Exact-duplicate group statistics (empty when the corpus is clean). */
  def exactDupStats(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"),
           min(col("doc_id")).as("keep_doc_id"),
           max(col("doc_id")).as("max_doc_id"))
      .filter(col("n_copies") > 1)
      .orderBy(col("text_hash"))

  /** MinHash signature columns sig_0..sig_15, computed per ROW by the
    * native codegen'd [[graft.functions.MinHashSignature]] expression —
    * one pass over the document's shingles, no explode, no aggregation
    * shuffle. At 100 TB this turns signature computation from
    * (row-count × shingle-count) exploded rows plus a full exchange
    * into a narrow map-side projection.
    *
    * Bit-identical to [[withMinhashSignatureAgg]] (asserted by
    * OpsSpec); the DuckDB oracle mirrors that builtin formulation.
    * The 16 sig_i projections reference the one `sig` array — the
    * expression is non-cheap so CollapseProject won't inline it 16×,
    * and codegen subexpression elimination backstops that.
    */
  def withMinhashSignature(documents: DataFrame, w: Int = 3): DataFrame = {
    val sig = graft.functions.MinHashSignature.minhash_sig(col("tk"), w, minhashAB, P)
    spread(documents)
      .withColumn("tk", Text.tokens(col("text")))
      .select(col("doc_id"), sig.as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +:
        minhashAB.indices.map(i => element_at(col("sig"), i + 1).as(s"sig_$i")): _*)
  }

  /** Builtin-only signature formulation (explode → conv(md5) → 16-min
    * hash-aggregate with map-side partial agg) — the oracle-shaped
    * reference implementation the codegen path must match bit for bit.
    */
  def withMinhashSignatureAgg(documents: DataFrame, w: Int = 3): DataFrame = {
    val base = explodedShingles(documents, w)
      .withColumn("v", Text.tokenHash(col("s")))
    val sigAggs = minhashAB.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("v") + lit(b)) % P).as(s"sig_$i")
    }
    base.groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
  }

  /** LSH near-dup candidates + exact Jaccard verification.
    * Pipeline: signature → band keys → explode(bands) → self-join on
    * (band_idx, key) → distinct pairs → exact shingle-set Jaccard.
    */
  def minhashNearDups(documents: DataFrame, w: Int = 3,
                      threshold: Double = 0.8, salts: Int = 8): DataFrame = {
    val sigs = withMinhashSignature(documents, w)
    val bandKeys = (0 until numBands).map { j =>
      concat_ws(",", (0 until rowsPerBand).map(r => col(s"sig_${j * rowsPerBand + r}")): _*)
    }
    // candidate pairs are few (LSH bands prune) — but a HOT band bucket
    // (boilerplate/empty-ish docs sharing a signature band) is an
    // unsalted Σ|bucket|² on one reducer, the same skew class the
    // SemDeDup cell join had. Same fix: the right side hash-salts by
    // its own doc_id, the left side replicates ×salts, the join keys on
    // (band, salt) — each (a,b) pair emerges exactly once (at salt(b)),
    // so results are salt-INVARIANT (oracle computes the unsalted plan;
    // spec-proven) while a hot bucket's pair work spreads over `salts`
    // reducers. The bands frame is checkpointed so the signature
    // pipeline runs ONCE even though the two join sides now project
    // different salt columns (alias-reuse can no longer dedupe them).
    val bands = sigs.select(
        col("doc_id"),
        posexplode(array(bandKeys: _*)).as(Seq("band_idx", "band_key")))
      .maintCheckpoint()
    val x = bands
      .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
      .alias("x")
    val y = bands
      .withColumn("salt",
        pmod(Text.tokenHash(col("doc_id").cast("string")), lit(salts.toLong)))
      .alias("y")
    val cand = x.join(y,
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.salt") === col("y.salt") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2")).distinct()

    // exact Jaccard for the candidates, by shingle co-occurrence: join
    // each pair to doc1's shingles (cand is broadcast-small), left-join
    // doc2's shingles on equality — |A| = rows per pair, |A∩B| = matched
    // rows, |B| joined from per-doc counts. No shingle ARRAY is ever
    // built or shuffled, and the join key is the 60-bit shingle HASH
    // (8 bytes/row through both joins instead of the w-token string —
    // same payload win as jaccardPairs, same distinct-hash set
    // semantics mirrored by the oracle).
    val sh = explodedShingleHashes(documents, w)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val pairA = cand.join(sh.select(col("doc_id").as("doc1"), col("s")), Seq("doc1"))
    val withB = pairA.alias("pa")
      .join(sh.select(col("doc_id").as("d2"), col("s").as("s2")).alias("sb"),
        col("pa.doc2") === col("sb.d2") && col("pa.s") === col("sb.s2"), "left")
    val stats = withB.groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("sz1"), count(col("s2")).as("n_inter"))
    stats
      .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        (col("n_inter").cast("double") /
          (col("sz1") + col("sz2") - col("n_inter"))).as("jaccard"))
      .withColumn("is_near_dup", col("jaccard") >= threshold)
      .orderBy(col("doc1"), col("doc2"))
  }

  /** INCREMENTAL near-dup: an incoming batch banded against the
    * HISTORICAL corpus's LSH index — the fuzzy twin of
    * [[incrementalDedup]] and the nightly-pipeline shape for
    * near-duplicates: history is indexed once (at 100 TB the band
    * index persists like the engine's other stored artifacts; here it
    * derives in-query per the registry's independence contract), the
    * batch's band keys equi-join it — candidates are batch×history
    * only, history NEVER self-joins and is never rescanned per batch
    * doc — and only candidates pay the exact shingle-hash Jaccard
    * verification of [[minhashNearDups]].
    *
    * Output: one row per batch doc — LSH candidate count, verified
    * dup count, the canonical (minimum) history doc it duplicates
    * (−1 when none), and the verdict.
    */
  def incrementalNearDup(batch: DataFrame, history: DataFrame,
                         w: Int = 3, threshold: Double = 0.3): DataFrame = {
    val cand = minhashBands(batch, "batch_id", w)
      .join(minhashBands(history, "hist_id", w), Seq("band_idx", "band_key"))
      .select(col("batch_id"), col("hist_id")).distinct()
    val shH = explodedShingleHashes(history, w)
    val sizesH = shH.groupBy(col("doc_id")).agg(count(lit(1)).as("szh"))
    nearDupVerdicts(batch, cand, shH, sizesH, w, threshold)
  }

  /** Per-document LSH band rows (id, band_idx, band_key) — the frame
    * both incremental probes join on and [[dedupBuildIndex]] persists.
    */
  private[ops] def minhashBands(docs: DataFrame, idCol: String,
                                w: Int): DataFrame = {
    val sigs = withMinhashSignature(docs, w)
    val bandKeys = (0 until numBands).map { j =>
      concat_ws(",",
        (0 until rowsPerBand).map(r => col(s"sig_${j * rowsPerBand + r}")): _*)
    }
    sigs.select(col("doc_id").as(idCol),
      posexplode(array(bandKeys: _*)).as(Seq("band_idx", "band_key")))
  }

  /** Shared verdict core of [[incrementalNearDup]] and
    * [[incrementalNearDupStored]]: exact-Jaccard verification of the
    * (batch, history) candidate pairs, folded per batch document.
    */
  private def nearDupVerdicts(batch: DataFrame, cand: DataFrame,
                              shH: DataFrame, sizesH: DataFrame,
                              w: Int, threshold: Double): DataFrame = {
    val shB = explodedShingleHashes(batch, w)
      .select(col("doc_id").as("batch_id"), col("s"))
    val withB = cand.join(shB, Seq("batch_id")).alias("pa")
      .join(shH.select(col("doc_id").as("h2"), col("s").as("s2")).alias("sb"),
        col("pa.hist_id") === col("sb.h2") && col("pa.s") === col("sb.s2"),
        "left")
    val stats = withB.groupBy(col("batch_id"), col("hist_id"))
      .agg(count(lit(1)).as("szb"), count(col("s2")).as("n_inter"))
    val j = stats
      .join(sizesH.select(col("doc_id").as("hist_id"), col("szh")),
        Seq("hist_id"))
      .select(col("batch_id"), col("hist_id"),
        (col("n_inter").cast("double") /
          (col("szb") + col("szh") - col("n_inter"))).as("jaccard"))
    val perDoc = j.groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_cands"),
        count(when(col("jaccard") >= threshold, 1)).as("n_dups"),
        min(when(col("jaccard") >= threshold, col("hist_id"))).as("dup_of0"))
    batch.select(col("doc_id"))
      .join(perDoc, col("doc_id") === col("batch_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("dup_of0"), lit(-1L)).as("dup_of"),
        (coalesce(col("n_dups"), lit(0L)) > 0).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  // ---- Build-once / probe-many: the stored near-dup band index ----

  /** Freshness = geometry + metadata-only corpus identity, the same
    * contract as the IVFADC and BM25 markers
    * ([[graft.sources.StoredLayout.inputListingFp]]); the build-time
    * row count is a record, never recomputed at probe time. The v2
    * marker additionally records the layout's BUCKET GEOMETRY
    * (`kb=`/`db=`) after the prefix — probes parse it from marker
    * content instead of recomputing it (the bucket counts derive from
    * the build-time corpus size, which the serving path must never
    * re-aggregate).
    */
  private[graft] def dedupIndexMarkerPrefix(history: DataFrame, w: Int): String =
    s"graft-neardup v2 bands=$numBands rpb=$rowsPerBand w=$w " +
      s"src=${StoredLayout.inputListingFp(history)} split=trainval"

  /** Bucket count for the v3 layout's prunable partitions: ~128 docs
    * per bucket, rounded up to a power of two, floored at 16 and
    * capped at 64k — buckets stay a constant SIZE as the corpus grows
    * (the COUNT grows), which is what keeps a fixed admission batch's
    * pruned read a shrinking fraction at scale: candidates are
    * batch-bounded, so the buckets they hash into stop growing while
    * the bucket population keeps pace with the corpus. ~128 docs/bucket
    * keeps bucket count above the candidate fan of a realistic
    * micro-batch without drowning a SMALL corpus in footer-dominated
    * parquet files; at 100 TB the constant is a config knob — what
    * matters is that it tracks docs, not bytes.
    */
  private[ops] def dedupBuckets(nDocs: Long): Int = {
    val raw = math.max(1L, nDocs / 128L)
    var b = 16
    while (b < raw && b < 65536) b <<= 1
    b
  }

  /** Admission delta-segment sizing: admitted docs per shingle file.
    * At a realistic shingle fan (a few hundred 16-byte rows per doc)
    * this lands each segment file in the ~64-128 MB parquet sweet
    * spot; a deployment tunes it like any target-file-size knob.
    */
  private[graft] val defaultDocsPerSegFile = 32768L

  /** (kb, db) bucket geometry recorded in the layout's marker. */
  private def bucketGeometry(base: String): (Int, Int) = {
    val txt = StoredLayout.marker(base).getOrElse(
      throw new IllegalStateException(s"no marker at $base"))
    def field(k: String): Int =
      s"$k=(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
        .getOrElse(throw new IllegalStateException(
          s"marker at $base carries no $k= geometry — pre-v3 layout; " +
            "run dedupBuildIndex(history, base) to upgrade it"))
    (field("kb"), field("db"))
  }

  /** Band-key bucket column (kb): which of the layout's key-hash
    * partitions a posting lives in. A probe's colliding postings live
    * in exactly the batch's own key buckets, so the postings scan
    * prunes to those partition directories by a STATIC IN-list.
    */
  private def kbCol(kB: Int): Column =
    pmod(Text.tokenHash(col("band_key")), lit(kB.toLong))

  /** Doc-id bucket column (db) for the shingle sidecar: the exact-
    * Jaccard verification touches only CANDIDATE history docs, so the
    * token-level shingle scan prunes to the candidates' doc buckets —
    * the artifact that grows with corpus TOKENS is never read
    * wholesale on the admission path.
    */
  private def dbCol(id: Column, dB: Int): Column =
    pmod(Text.tokenHash(id.cast("string")), lit(dB.toLong))

  /** BUILD: persist the historical corpus's near-dup index — the LSH
    * band postings (hist_id, band_key) partitioned by band_idx, the
    * exploded 60-bit shingle-hash sets, and per-doc set sizes. This is
    * the artifact [[incrementalNearDup]] recomputes from scratch every
    * run: at 100 TB the nightly batch job must NOT re-minhash the
    * whole history to dedup one day's data — signatures are computed
    * once when a document enters the history, which is exactly what
    * this layout captures (the dedup twin of the stored IVFADC/BM25
    * pairs). Returns the per-band census as re-read from storage.
    *
    * Every build also primes the pristine-replay cache: the admission
    * replay ([[graft.Scenarios.dedupAdmitProbe]]) shares this layout
    * and starts each run from the untouched standing index, so a plain
    * rebuild doubles as the cache build and the replay never pays a
    * second cold build of the same train index.
    */
  def dedupBuildIndex(history: DataFrame, base: String,
                      w: Int = 3): DataFrame =
      StoredLayout.build(base, "dedup", primePristine = true) { b =>
    val spark = history.sparkSession
    // bucket geometry scales with the corpus so bucket SIZE stays
    // constant: the count is fixed at build time and recorded in the
    // marker (probes parse it, never re-derive it from the corpus)
    val histCount = history.count()
    val kB = dedupBuckets(histCount)
    val dB = dedupBuckets(histCount)
    // one shingle explosion feeds the set sidecar AND the sizes
    val sh = explodedShingleHashes(history, w)
      .withColumn("db", dbCol(col("doc_id"), dB)).maintCheckpoint()
    // the three artifacts AND the clearing of delta segments left by
    // appends against a previous corpus (served alongside a fresh base
    // they would resurrect stale documents) flip in one transaction
    val snap = b.commit(
        s"${dedupIndexMarkerPrefix(history, w)} kb=$kB db=$dB n=$histCount") { txn =>
      // repartition on the partition columns before the bucketed
      // writes: otherwise every write task emits a file into every
      // directory (tasks × buckets tiny files — measured 3-10x
      // build-time blowup); clustered, each directory gets O(1) files
      txn.writeFull(
        minhashBands(history, "hist_id", w).withColumn("kb", kbCol(kB))
          .repartition(col("band_idx"), col("kb")),
        "bands", "band_idx", "kb")
      txn.writeFull(sh.repartition(col("db")), "shingles", "db")
      txn.writeFull(sh.groupBy(col("doc_id")).agg(count(lit(1)).as("szh")),
        "sizes")
      Seq("bands_delta", "shingles_delta", "sizes_delta")
        .foreach(txn.dropComp)
    }
    snap.read(spark, "bands")
      .groupBy(col("band_idx").cast("long").as("band_idx"))
      .agg(count(lit(1)).as("n_postings"),
        count_distinct(col("band_key")).as("n_keys"))
      .orderBy(col("band_idx"))
  }

  /** Incremental near-dup against the STORED band index: the batch's
    * bands equi-join the persisted postings, exact-Jaccard
    * verification reads the persisted shingle sets and sizes — the
    * history corpus text is never re-tokenized, re-shingled, or
    * re-signed at probe time (result-identical to
    * [[incrementalNearDup]]: parquet round-trips the integer hashes
    * exactly, so the registry oracle IS the inline one). Rebuilds
    * lazily iff the marker is stale.
    *
    * SHARED-LAYOUT CONTRACT with [[graft.Scenarios.dedupAdmitProbe]]
    * (the dedup twin of the IVFADC pair's mod-5 base): both slots serve the same
    * standing train-split index at one base — one build, one pristine
    * cache, half the standing disk. The admission replay MUTATES the
    * layout (delta segments of admitted non-history docs, which this
    * probe must not see: a batch doc finding its own admitted bands
    * would flag itself a dup), so a fresh-markered layout that carries
    * deltas restores from the pristine cache first — a filesystem
    * copy, not a rebuild; the cache is primed by any
    * [[dedupBuildIndex]] run on this base.
    */
  def incrementalNearDupStored(batch: DataFrame, history: DataFrame,
                               base: String, w: Int = 3,
                               threshold: Double = 0.3): DataFrame = {
    val spark = batch.sparkSession
    StoredLayout.ensureFresh(base, "dedup", dedupIndexMarkerPrefix(history, w),
        restoreIfAny = Seq("bands_delta", "shingles_delta", "sizes_delta")) {
      dedupBuildIndex(history, base, w).count()
    }
    val snap = Snapshot.require(base)
    val (kB, dB) = bucketGeometry(base)
    // the batch's band keys live in a bounded set of key buckets
    // (≤ numBands × kB, collected driver-side like the IVF cell lists):
    // the postings scan prunes to exactly those partition directories —
    // colliding postings, not the whole postings table
    val batchBands = Sources.hold(minhashBands(batch, "batch_id", w)
      .withColumn("kb", kbCol(kB)), None)
    val bandsH = prunedBands(spark, snap, "bands", batchBands, kB)
    val cand = Sources.hold(batchBands.df
      .join(bandsH, Seq("band_idx", "band_key"))
      .select(col("batch_id"), col("hist_id")).distinct(), None)
    nearDupVerdicts(batch, cand.df,
      prunedShingles(spark, snap, "shingles", cand, dB),
      snap.read(spark, "sizes"), w, threshold)
  }

  /** The stored band postings pruned to the probe's own key buckets:
    * one static (band_idx, kb) IN-list over the partitioned layout.
    * The list is bounded by geometry (≤ numBands × kB tuples) and
    * comes from the held batch band rows ([[Sources.hold]]).
    */
  private def prunedBands(spark: org.apache.spark.sql.SparkSession,
                          snap: Snapshot.Manifest, comp: String,
                          batchBands: Sources.Held, kB: Int): DataFrame = {
    val pairs = batchBands.keys(col("band_idx"), col("kb"))
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    lastProbeParts.set(lastProbeParts.get.copy(bandParts = pairs))
    // compare against INT literals: the partition columns discover as
    // IntegerType, and a cast on the partition attribute would defeat
    // static partition pruning
    def shape(df: DataFrame): DataFrame = df
      .select(col("hist_id"), col("band_idx").cast("int").as("band_idx"),
        col("band_key"))
    val b0 = shape(snap.read(spark, comp)
      .filter(Sources.anyOf(pairs.map { case (b, kb) =>
        col("band_idx") === b && col("kb") === kb.toInt
      })))
    // delta segments are batch-sized and unbucketed — served whole,
    // like BM25's LSM deltas, until a compaction folds them
    snap.readOpt(spark, s"${comp}_delta") match {
      case Some(d) => b0.unionByName(shape(d))
      case None    => b0
    }
  }

  /** The stored shingle sidecar pruned to the CANDIDATE docs' buckets:
    * verification touches only colliding history documents, so the
    * token-level artifact — the one that grows with corpus tokens —
    * reads a candidate-bounded partition subset, never wholesale. The
    * list is bounded by dB (≤ the bucket count) and comes from the held
    * candidate rows.
    */
  private def prunedShingles(spark: org.apache.spark.sql.SparkSession,
                             snap: Snapshot.Manifest, comp: String,
                             cand: Sources.Held, dB: Int): DataFrame = {
    val buckets = cand.keys(dbCol(col("hist_id"), dB).as("db"))
      .map(_.getLong(0)).sorted
    lastProbeParts.set(lastProbeParts.get.copy(shingleBuckets = buckets))
    val b0 = snap.read(spark, comp)
      .filter(col("db").isin(buckets.map(_.toInt): _*))
      .select(col("doc_id"), col("s"))
    snap.readOpt(spark, s"${comp}_delta") match {
      case Some(d) => b0.unionByName(d.select(col("doc_id"), col("s")))
      case None    => b0
    }
  }

  /** Measurement hook (weak-scaling harness): the partition IN-lists
    * the latest stored probe pushed — the ground truth for "admission
    * reads only colliding buckets", byte-checked against exactly those
    * directories' on-disk sizes.
    */
  private[graft] case class ProbeParts(bandParts: Seq[(Int, Long)],
                                       shingleBuckets: Seq[Long])
  private[graft] val lastProbeParts = new ThreadLocal[ProbeParts] {
    override def initialValue(): ProbeParts = ProbeParts(Nil, Nil)
  }

  /** Streaming ADMISSION GATE over the stored near-dup index: verdict
    * each batch document against the STANDING band postings (the
    * history corpus is never re-tokenized or re-signed), then fold
    * the admitted documents' own signatures into the index as a delta
    * segment — the curation shape of a streaming ingest at 100 TB:
    * every micro-batch is checked against everything admitted before
    * it, and the check costs O(batch × colliding-band postings).
    *
    * Exactly-once under at-least-once delivery, by the
    * [[graft.ops.Text.bm25Append]] segment device: the delta segment
    * id is an order-insensitive hash of the admitted doc set, so a
    * crash-replayed batch overwrites ITS OWN segment; documents
    * already in the index re-admit by id without re-checking, and a
    * partially-appended replay cannot match itself (self-pairs are
    * excluded from the candidate join). Intra-batch near-dup pairs
    * are BOTH admitted by design — this is the batch-vs-history gate
    * ([[incrementalNearDup]]'s contract); intra-batch collapse is the
    * nightly [[nearDupClusters]] pass's job.
    *
    * Returns one verdict row per batch document:
    * (doc_id, already_indexed, n_cands, n_dups, dup_of, admitted).
    *
    * LAYOUT CONTRACT — the gate never rebuilds: unlike
    * [[dedupProbe]]/[[dedupBuildIndex]] (which self-upgrade a stale
    * layout, because they hold the full history corpus), the
    * admission gate sees only the BATCH — it could not rebuild the
    * standing index even if it wanted to. A pre-v3 or unbuilt layout
    * fails loudly up front ([[graft.sources.StoredLayout.requireBuilt]]),
    * and a geometry-less marker fails the same way below; the
    * operator that owns the history runs `dedupBuildIndex` to
    * upgrade, then admission resumes.
    */
  def dedupAdmit(batch: DataFrame, base: String, w: Int = 3,
                 threshold: Double = 0.3,
                 docsPerSegFile: Long = defaultDocsPerSegFile): DataFrame =
      Snapshot.transact(base) { txn =>
    val spark = batch.sparkSession
    StoredLayout.requireBuilt(base, "dedup")
    // ONE manifest resolution pins the whole admission pass; serve
    // base ∪ delta segments for every artifact
    val snap = txn.snap
    val (kB, dB) = bucketGeometry(base)
    val b = batch.maintCheckpoint()
    val sizesH = {
      val s0 = snap.read(spark, "sizes").select(col("doc_id"), col("szh"))
      snap.readOpt(spark, "sizes_delta") match {
        case Some(d) => s0.unionByName(d.select(col("doc_id"), col("szh")))
        case None    => s0
      }
    }
    // a replayed document (already in the index) re-admits by id —
    // checking it again would flag it as a dup of itself
    val freshB = b.join(sizesH.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .maintCheckpoint()
    // pruned serving reads (base ∪ delta, both partition-pruned): the
    // postings scan touches only the batch's key buckets, the shingle
    // scan only the candidates' doc buckets — admission I/O is bounded
    // by colliding buckets + doc-level artifacts, never the corpus
    // (byte-gated in graft.WeakScale at ×1 vs ×8)
    val batchBands = Sources.hold(minhashBands(freshB, "batch_id", w)
      .withColumn("kb", kbCol(kB)), None)
    val bandsH = prunedBands(spark, snap, "bands", batchBands, kB)
    val cand = Sources.hold(batchBands.df
      .join(bandsH, Seq("band_idx", "band_key"))
      // a PARTIALLY-appended replay (bands landed, sizes didn't) must
      // not match itself either
      .filter(col("batch_id") =!= col("hist_id"))
      .select(col("batch_id"), col("hist_id")).distinct(), None)
    val verdicts = nearDupVerdicts(freshB, cand.df,
      prunedShingles(spark, snap, "shingles", cand, dB),
      sizesH, w, threshold)
      .maintCheckpoint()
    val admitted = freshB.join(
        verdicts.filter(!col("is_dup")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .maintCheckpoint()
    // segment id, the emptiness test, AND the admitted-doc count come
    // out of ONE aggregate: an order-insensitive doc-id hash sum, null
    // iff nothing was admitted (each driver-synchronous job on this
    // path is real latency — the admission gate runs per micro-batch)
    val segRow = admitted
      .agg(sum(Text.tokenHash(col("doc_id").cast("string"))),
        count(lit(1))).head
    val segAgg = Option(segRow.get(0)).map(_.asInstanceOf[Long])
    segAgg.foreach { segSum =>
      val segId = java.lang.Long.toHexString(segSum)
      val nAdmitted = segRow.getLong(1)
      // segment write parallelism tracks the BATCH, not a constant:
      // ~docsPerSegFile admitted docs per shingle file (~64-128 MB of
      // exploded shingle rows at realistic shingle fans), so a
      // micro-batch still writes one file while a 10^6-doc replay
      // batch fans out to ~30 write tasks instead of funneling the
      // whole segment through one (file-count-tracks-batch is
      // asserted in graft.WeakScale)
      val segFiles = math.max(1L,
        (nAdmitted + docsPerSegFile - 1) / docsPerSegFile).toInt
      val sh = explodedShingleHashes(admitted, w).maintCheckpoint()
      // the admitted docs' band rows are a semi-join of the ALREADY
      // SIGNED batch checkpoint — signatures are never recomputed.
      // Delta segments keep the SIMPLE (seg, band_idx)/(seg) layout:
      // a segment is batch-sized by construction, so serving reads it
      // whole (the BM25 LSM shape — segments are cheap until a
      // compaction folds them); bucket-partitioning the 4-directory
      // write cost more in dynamic-partition commit overhead than the
      // pruning it enabled was worth
      val admBands = batchBands.df
        .join(admitted.select(col("doc_id").as("batch_id")),
          Seq("batch_id"), "left_semi")
        .select(col("batch_id").as("hist_id"), col("band_idx"),
          col("band_key"))
        .withColumn("seg", lit(segId))

      // the three delta segments flip in ONE manifest publish: a crash
      // never leaves bands landed with sizes missing
      txn.writeParts(admBands.repartition(col("band_idx")),
        "bands_delta", Seq("seg", "band_idx"),
        (0 until numBands).map(i => Seq(segId, i.toString)))
      // repartition, not coalesce: coalesce can only REDUCE partition
      // count, so the promised fan-out silently degraded to however
      // many partitions the checkpointed shingle frame happened to
      // have (ADVICE r11) — repartition guarantees exactly segFiles
      // write tasks whether the upstream had 1 partition or 200
      txn.writeParts(sh.withColumn("seg", lit(segId)).repartition(segFiles),
        "shingles_delta", Seq("seg"), Seq(Seq(segId)))
      txn.writeParts(
        sh.groupBy(col("doc_id")).agg(count(lit(1)).as("szh"))
          .withColumn("seg", lit(segId)),
        "sizes_delta", Seq("seg"), Seq(Seq(segId)))
    }
    b.select(col("doc_id"))
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("is_dup").isNull.as("already_indexed"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(!col("is_dup"), lit(true)).as("admitted"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup CLUSTERING: connected components over the exact-Jaccard
    * candidate pairs, with canonical-document selection (min doc_id per
    * component) — the "keep one per near-dup cluster" capstone of a
    * training-data dedup pipeline (pairs alone don't dedup: A~B, B~C
    * must collapse to ONE survivor even when A~C was never a candidate).
    *
    * Algorithm: iterative min-label propagation over the undirected
    * edge set — each round every node takes the min of its own label
    * and its neighbors' labels; converges in O(diameter) rounds. The
    * loop is DRIVER-COORDINATED but each round is one distributed
    * hash-join + partial-agg (no collect of data rows); edges and the
    * current labels are persisted so round k doesn't recompute the
    * shingle pipeline, and convergence is a `count` of changed labels.
    * Near-dup components are clique-ish (LSH candidates are mutual), so
    * diameter — and the round count — stays tiny in practice; a
    * million-node path graph would instead want the large-star/
    * small-star formulation (Kiveris et al., "Connected Components in
    * MapReduce"), which this loop structure extends to directly.
    *
    * Output: one row per document that appears in ≥1 near-dup pair —
    * (doc_id, canon_id, cluster_size); rows with doc_id = canon_id are
    * the survivors.
    */
  def nearDupClusters(documents: DataFrame, w: Int = 3,
                      minJaccard: Double = 0.3, maxRounds: Int = 30): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // both edge directions come out of ONE pass over the pair pipeline
    // (a self-union would reference — and re-execute — the whole
    // candidate-join subtree twice)
    val edges = jaccardPairs(documents, w, minJaccard)
      .select(explode(array(
          struct(col("doc1").as("src"), col("doc2").as("dst")),
          struct(col("doc2").as("src"), col("doc1").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // labels are checkpointed per round, not merely persisted:
    // each round's plan references the previous labels TWICE (neighbor
    // join + self), so without lineage truncation the logical tree
    // doubles per round — at round ~8 the plan string alone OOMs the
    // driver (found by the deep-chain spec). Checkpointing caps every
    // round's plan at one join over two leaf RDDs, which is also what
    // a 100 TB run needs: driver memory independent of round count.
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .maintCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      // step 1: take the min over direct neighbors' labels
      val nbrMin = edges
        .join(labels.select(col("id").as("nid"), col("label").as("nlabel")),
          col("dst") === col("nid"))
        .groupBy(col("src")).agg(min(col("nlabel")).as("nbr_label"))
      // NOTE on the escalation path: pointer jumping (label → label's
      // label per round) gives O(log n) rounds for long chains, but it
      // was MEASURED SLOWER here — the extra self-join per round costs
      // more than the rounds it saves, because LSH near-dup components
      // are clique-ish (diameter ~2, propagation already converges in
      // 2-3 rounds). Re-introduce it (or large-star/small-star) only if
      // a real corpus produces deep chains and the round cap trips.
      val next = labels
        .join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
        .maintCheckpoint()
      changed = next.filter(col("label") =!= col("old_label")).count()
      labels = next.select(col("id"), col("label"))
      rounds += 1
    }
    // hard-fail rather than silently mislabel: a >30-diameter component
    // (deep near-dup chain) would otherwise ship a WRONG clustering —
    // same guard as Graph.connectedComponents. The escalation path on
    // trip is the star-contraction CC (O(log² n) rounds), not a larger
    // cap.
    require(changed == 0,
      s"nearDupClusters did not converge after $rounds rounds " +
        s"($changed labels still changing); escalate to " +
        "Graph.connectedComponents (star-contraction) for deep chains")
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    val out = labels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("canon_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
    edges.unpersist()
    out
  }

  /** 32-bit SimHash over the token stream (occurrence-weighted).
    * Formulated as explode → 32 conditional sums → bit reassembly; the
    * group-by runs partial aggregation so the shuffle carries one row
    * per (doc, 32 counters), not per token.
    */
  /** 32-bit SimHash per document, computed per ROW by the native
    * codegen'd [[graft.functions.SimHash32]] expression — one pass
    * over the token array, no explode, no 32-conditional-sum
    * aggregation shuffle. Bit-identical to [[simhashAgg]] (asserted by
    * OpsSpec); the DuckDB oracle mirrors that builtin formulation.
    * (split() always yields ≥1 token, so no document vanishes the way
    * a zero-row explode would.)
    */
  def simhash(documents: DataFrame): DataFrame =
    spread(documents)
      .select(col("doc_id"),
        graft.functions.SimHash32.simhash32(Text.tokens(col("text"))).as("simhash"))
      .orderBy(col("doc_id"))

  /** Builtin-only SimHash formulation (explode → conv(md5) → 32
    * conditional-sum aggregates) — the oracle-shaped reference
    * implementation the codegen path must match bit for bit.
    */
  def simhashAgg(documents: DataFrame): DataFrame = {
    val tok = spread(documents)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .withColumn("v", Text.tokenHash(col("t")))
    val bitSums = (0 until 32).map { b =>
      sum(when(shiftright(col("v"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"bit_$b")
    }
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(b =>
          when(col(s"bit_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Hamming distance between two simhash values (near-dup predicate). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact n-gram Jaccard near-dup within (lang, token-length-band)
    * blocks.
    *
    * Computed by shingle co-occurrence join, NOT a blocked cross join:
    * explode (bucket, doc, shingle) → equi-join on (bucket, shingle) →
    * count per pair = |A∩B|, then |A∪B| = |A|+|B|−|A∩B|. Cost is
    * Σ_shingle freq² (co-occurrence mass) instead of Σ_block size² (all
    * pairs) — pairs sharing no shingle never materialize, which is
    * output-identical for any threshold > 0. This is the formulation
    * that survives 100 TB: both the explode and the join are codegen'd
    * shuffles on uniform keys, with map-side partial aggregation on the
    * pair count.
    */
  def jaccardPairs(documents: DataFrame, w: Int = 3,
                   minJaccard: Double = 0.3): DataFrame = {
    // one exploded pass; |A| is recovered by counting exploded rows per
    // doc, so the shingle ARRAY never needs to be carried or rebuilt.
    // The join key is the 60-BIT HASH of the shingle, not the string:
    // the co-occurrence shuffle carries 8 bytes per row instead of
    // ~w·token bytes — at 100 TB the shuffle payload IS the cost of
    // this operator. Sets become distinct-hash sets on BOTH engines
    // (the oracle mirrors the hash), so results stay bit-identical;
    // a 60-bit collision inside one (bucket, pair) is ~pairs²/2^60.
    val sh = spread(documents)
      .withColumn("tk", Text.tokens(col("text")))
      .select(col("doc_id"),
        concat_ws("#", col("lang"), floor(size(col("tk")) / 20)).as("bucket"),
        explode(array_distinct(
          transform(shinglesFromTokens(col("tk"), w),
            s => Text.tokenHash60(s)))).as("s"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // aliased self-join (not pre-renamed projections): both sides share
    // one canonical exchange, so the shingle explode runs once
    val inter = sh.alias("a")
      .join(sh.alias("b"),
        col("a.bucket") === col("b.bucket") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc1"), col("sz").as("sz1")), Seq("doc1"))
      .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        (col("n_inter").cast("double") /
          (col("sz1") + col("sz2") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy(col("doc1"), col("doc2"))
  }

  /** APPLY the dedup decision: the corpus with every non-canonical
    * near-dup cluster member removed — the pipeline's actual output
    * table; documents in no cluster pass through untouched. The loser
    * set is data-dependent (at a realistic 20–50% dup rate over 100 TB
    * it is billions of rows), so the anti-join is deliberately
    * UN-hinted: AQE broadcasts it when the runtime size actually fits
    * and falls back to a shuffle anti-join when it doesn't — a
    * mandatory `broadcast()` here would OOM the driver at scale.
    */
  def applyNearDupDedup(documents: DataFrame, w: Int = 3,
                        minJaccard: Double = 0.3): DataFrame = {
    val losers = nearDupClusters(documents, w, minJaccard)
      .filter(col("doc_id") =!= col("canon_id"))
      .select(col("doc_id").as("drop_id"))
    documents
      .join(losers, col("doc_id") === col("drop_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }
}
