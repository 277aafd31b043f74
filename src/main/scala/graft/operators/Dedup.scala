package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.{GraftFunctions => G}

/** Large-scale corpus deduplication: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * The per-document kernels (shingle hashing, MinHash signatures, SimHash
  * fingerprints) are native Catalyst expressions
  * ([[graft.expressions.ShingleHashes]] etc.) — precompiled tight loops fused
  * into whole-stage codegen. Round 2 computed them with interpreted
  * higher-order lambdas plus explode+groupBy shuffles; that cost 448 s of a
  * 545 s bench. Round 3 computes every signature narrowly at scan speed and
  * shuffles only candidate keys.
  *
  * Scale design (100 TB corpus):
  *  - exact dedup: one hash aggregation on the content hash (map-side partial);
  *    shuffle carries one row per distinct hash, not per input row.
  *  - MinHash/LSH: signatures are a narrow map; the only shuffle is the
  *    band-bucket self-join (fan-out = bands per doc, not per shingle).
  *  - SimHash: fully narrow — zero shuffle.
  *  - n-gram Jaccard: inverted-index join; `maxDocFreq` caps posting-list
  *    length, which both prunes stopword shingles AND bounds the worst-case
  *    per-shingle join fan-out to maxDocFreq² — the hot-shingle skew guard.
  */
object Dedup {

  /** Word tokens: lowercased maximal letter/digit runs — one codegen'd regex
    * pass (`regexp_extract_all`), shared by every text-dedup operator.
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[\\p{L}\\p{Nd}]+"), lit(0))

  /** Word n-gram shingles of a text column as STRINGS (semantic spec of the
    * hashed kernels; used by tests and small-data paths). Documents shorter
    * than n shingle to the whole token list joined.
    */
  def shingles(text: Column, n: Int): Column = {
    val clean = tokens(text)
    val k = size(clean) - (n - 1)
    when(k <= 0, array(array_join(clean, " ")))
      .otherwise(transform(sequence(lit(0), k - 1),
        i => array_join(slice(clean, i + 1, lit(n)), " ")))
  }

  /** xxhash64 of each distinct shingle, sorted — the document's shingle SET,
    * computed in one narrow kernel pass ([[graft.expressions.ShingleHashes]]).
    */
  def shingleHashSet(text: Column, n: Int): Column =
    G.shingleHashes(tokens(text), n, distinct = true)

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every token k-gram, slide a window of `w`
    * consecutive hashes, keep each window's MINIMUM (ties → rightmost
    * position), and dedup the selected (pos, hash) picks. Guarantee: any
    * shared run of ≥ w+k−1 tokens between two docs yields ≥ 1 shared
    * fingerprint, at expected density 2/(w+1) — the LOCAL fingerprint family
    * ([[graft.operators.TextAnalysis.fingerprint]] hashes the whole doc and
    * breaks on any edit; winnowing survives edits outside the shared span).
    *
    * The (argmin, rightmost-tie) window selection rides ONE packed-long
    * `min()`: pack = h·2²⁵ + (2²⁴ − pos), so smaller hash wins and, within a
    * hash tie, larger pos wins — the frame aggregate stays a primitive
    * BIGINT min in both engines (md5-prefix hash < 2³², docs capped at 2²⁴
    * grams, pack < 2⁵⁷). A doc with fewer than w grams fingerprints once,
    * from its final partial frame.
    *
    * Scale: one narrow gram+hash pass (codegen [[graft.expressions
    * .NgramStrings]]), one doc-keyed bounded-frame window — the same shuffle
    * class as any per-doc window; no pairwise stage exists here.
    */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, capGrams: Long = 1L << 24): DataFrame = {
    // capGrams ≤ 2²⁴ is the packing invariant; smaller values are legal and
    // let [[winnowTruncationReport]]'s contract be spec'd at toy scale
    require(capGrams >= 1 && capGrams <= (1L << 24),
      s"capGrams must be in [1, 2^24], got $capGrams")
    val grams = df.select(col(idCol),
      posexplode(G.ngramStrings(tokens(col(textCol)), k)).as(Seq("pos", "__gram")))
    val hashed = grams.select(col(idCol), col("pos").cast(LongType).as("pos"),
      conv(substring(md5(col("__gram")), 1, 8), 16, 10).cast(LongType).as("h"))
      // the 2²⁴-gram cap the packing requires, ENFORCED: positions past it
      // would drive (2²⁴ − pos) negative and borrow into the hash bits,
      // silently corrupting the packed argmin. Deterministic truncation —
      // a >16M-token doc fingerprints its first capGrams grams (same
      // guarantee within the kept prefix) instead of emitting garbage.
      // Where truncation BINDS is observable: [[winnowTruncationReport]].
      .filter(col("pos") < lit(capGrams))
    val frame = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), Window.currentRow)
    val perDoc = Window.partitionBy(col(idCol))
    hashed
      .withColumn("__pack", shiftleft(col("h"), 25) + (lit(1L << 24) - col("pos")))
      .withColumn("__sel", min(col("__pack")).over(frame))
      .withColumn("__last", max(col("pos")).over(perDoc))
      // one selection per FULL window: frames ending at pos ≥ w−1 (or the
      // final frame of a shorter-than-w doc)
      .filter(col("pos") >= least(lit((w - 1).toLong), col("__last")))
      .select(col(idCol),
        (lit(1L << 24) - (col("__sel") % lit(1L << 25))).as("pos"),
        shiftright(col("__sel"), 25).as("h"))
      .distinct()
  }

  /** Truncation observability for [[winnowFingerprints]]'s gram cap (r11
    * verdict: the enforced cap silently truncates — a corpus where it binds
    * gets weaker fingerprint coverage with no signal). One narrow pass over
    * token COUNTS (no per-position work — a doc truncates iff its gram count
    * `max(0, tokens − k + 1)` exceeds the cap, which is derivable without
    * fingerprinting): corpus-level doc count, docs truncated, max gram
    * count, and total grams dropped. The [[graft.operators.Queries
    * .basketCapReport]] pattern applied to the fingerprint cap.
    */
  def winnowTruncationReport(df: DataFrame, textCol: String, k: Int,
      capGrams: Long = 1L << 24): DataFrame = {
    val g = greatest(lit(0L), (size(tokens(col(textCol))) - (k - 1)).cast(LongType))
    df.select(g.as("__g")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("__g") > capGrams, 1L).otherwise(0L)).cast(LongType).as("n_truncated"),
      max(col("__g")).as("max_grams"),
      sum(when(col("__g") > capGrams, col("__g") - lit(capGrams)).otherwise(0L))
        .cast(LongType).as("grams_dropped"))
  }

  /** Cross-doc winnowing matches: doc pairs sharing selected fingerprints,
    * scored by the count of distinct shared hashes — the MOSS pair report.
    *
    * Scale: postings-bounded exactly like the n-gram Jaccard path — the join
    * key is the fingerprint hash and `docFreqCap` drops hashes shared by more
    * than `cap` docs (those identify TEMPLATES/boilerplate, not copying, and
    * are where the quadratic per-key fan-out would otherwise live). Winnowing
    * has already thinned postings ~(w+1)/2× vs raw shingles, so this is the
    * cheaper pair generator for long docs.
    */
  def winnowMatches(df: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, docFreqCap: Int = 100): DataFrame =
    winnowMatchesFrom(winnowFingerprints(df, textCol, idCol, k, w), idCol,
      docFreqCap)

  /** [[winnowMatches]] over a PREBUILT fingerprint frame — the amortized
    * form: production builds the index once ([[winnowFingerprints]],
    * persisted/cached) and every pair report probes it.
    */
  def winnowMatchesFrom(fingerprints: DataFrame, idCol: String,
      docFreqCap: Int): DataFrame = {
    // docFreq cap as a window over the SAME h-keyed exchange the self-join
    // needs (instead of a count agg + semi-join back): both join inputs are
    // the identical capped subplan, so Spark reuses one exchange for the
    // window and both probe sides — one wide stage fewer than the agg form.
    val fp = fingerprints.select(col(idCol), col("h")).distinct()
    val posting = fp
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__df") <= docFreqCap).drop("__df")
    posting.select(col("h"), col(idCol).as("id_a"))
      .join(posting.select(col("h"), col(idCol).as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fingerprints"))
  }

  /** Exact-dedup → winnow → weighted-pair expansion (r14): the
    * [[embeddingPairsDeduped]] composition applied to the winnowing family,
    * closing the second failure shape the 100× probes exposed (SCALE.md r13):
    * [[winnowMatchesFrom]]'s docFreq cap counts REPLICAS, so under heavy
    * exact replication every fingerprint crosses the cap, classifies as
    * boilerplate, and a corpus that is almost entirely copies reports ZERO
    * plagiarism pairs.
    *
    * Composed: (1) group byte-identical texts (128-bit md5 content key — the
    * [[exact]] discipline), keeping the min-id survivor and the cluster
    * size; (2) winnow ONLY the survivors at the ORIGINAL (k, w, docFreqCap)
    * config — docFreq now counts distinct CONTENTS, which is what
    * "boilerplate" means; (3) expand pair weights from cluster sizes: a
    * survivor pair (a, b, shared) stands for |C_a|·|C_b| logical pairs, and
    * each cluster of size > 1 adds an intra row (keeper, keeper,
    * n kept fingerprints, C(size, 2)) — identical docs share exactly the
    * keeper's under-cap fingerprint set, and a cluster whose fingerprints
    * are ALL capped out emits nothing, matching the direct pair-join (which
    * only emits rows with ≥ 1 shared kept hash). Whenever per-hash cap
    * binding agrees between the two runs, the expanded (pair, shared)
    * multiset EQUALS the direct run's — pinned by the 10× probe; where
    * binding diverges (heavy replication) the composed answer is the
    * correct one and the direct run's zero is the bug.
    *
    * Scale: step 1 is one content-hash aggregation (map-side partial);
    * steps 2-3 run on the deduped survivor set, so the pair join's fan-out
    * is bounded by DISTINCT-content docFreq — replication never reaches an
    * exchange. Weight joins key on survivor ids (catalog-scale frames).
    */
  /** Exact-content clusters of a corpus: (`__kid` = min-id keeper,
    * `__csz` = cluster size), keyed on the 128-bit content hash ([[exact]]'s
    * collision discipline). The shared first stage of every dedup-first
    * composition — localCheckpoint'ed because each composition consumes it
    * from 2-3 subplans while its lineage is a full corpus scan (without the
    * checkpoint the corpus re-scans per consumer: 220 → 34 s at the 100×
    * probe).
    */
  def exactClusters(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(unhex(md5(col(textCol).cast(BinaryType))).as("__ch"))
      .agg(min(col(idCol)).as("__kid"), count(lit(1)).as("__csz"))
      .drop("__ch")
      .localCheckpoint()

  def winnowMatchesDeduped(df: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, docFreqCap: Int = 100): DataFrame = {
    val clusters = exactClusters(df, textCol, idCol)
    val surv = df.join(clusters.select(col("__kid").as(idCol)), Seq(idCol), "left_semi")
    val fpd = winnowFingerprints(surv, textCol, idCol, k, w)
      .select(col(idCol), col("h")).distinct()
    // same capped-posting shape as winnowMatchesFrom: the window and both
    // join probes reuse one h-keyed exchange
    val posting = fpd
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__df") <= docFreqCap).drop("__df")
    val pairs = posting.select(col("h"), col(idCol).as("id_a"))
      .join(posting.select(col("h"), col(idCol).as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fingerprints"))
    val sa = clusters.select(col("__kid").as("id_a"), col("__csz").as("__ca"))
    val sb = clusters.select(col("__kid").as("id_b"), col("__csz").as("__cb"))
    val cross = pairs.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"), col("shared_fingerprints"),
        (col("__ca") * col("__cb")).as("n_pairs"))
    val keptPerDoc = posting.groupBy(col(idCol))
      .agg(count(lit(1)).as("__nfp"))
    val intra = clusters.filter(col("__csz") > 1)
      .join(keptPerDoc.withColumnRenamed(idCol, "__kid"), Seq("__kid"))
      .select(col("__kid").as("id_a"), col("__kid").as("id_b"),
        col("__nfp").as("shared_fingerprints"),
        (col("__csz") * (col("__csz") - 1) / 2).cast(LongType).as("n_pairs"))
    cross.unionByName(intra)
  }

  /** Exact deduplication: keep one representative row (min id) per distinct
    * content hash. groupBy on a 128-bit binary md5 key (`unhex(md5(...))` —
    * 16 BYTES on the wire, not md5()'s 32-char hex string) instead of the raw
    * text keeps the shuffle narrow — 128 bits, not xxhash64's
    * 64, for the same reason [[contentIndex]] documents: a collision here
    * silently DROPS a non-duplicate document, and at the 10¹⁰-doc design
    * point a 64-bit key expects real collisions (n²/2⁶⁵ ≈ 3) while 128 bits
    * gives ~10⁻¹⁸.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hashed = df.withColumn("__h", unhex(md5(col(textCol).cast(BinaryType))))
    val keep = hashed.groupBy(col("__h")).agg(min(col(idCol)).as(idCol)).drop("__h")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Content-hash index of a landed corpus: the distinct 128-bit keys
    * (16-byte md5) an incremental ingest deduplicates against. 128 bits, not
    * xxhash64's 64: an anti-join drop is silent data loss, and at the 100 TB
    * design point (~10¹⁰ docs) a 64-bit key expects real collisions
    * (n²/2⁶⁵ ≈ 3) while 128 bits gives ~10⁻¹⁸ — the index stores only keys,
    * so there is no confirm-on-text escape hatch after the fact. At scale
    * this is the compact artifact you persist (bucketed by hash) instead of
    * re-scanning history.
    */
  def contentIndex(df: DataFrame, textCol: String): DataFrame =
    df.select(unhex(md5(col(textCol).cast(BinaryType))).as("h")).distinct()

  /** Day-2 incremental dedup: from a new batch, keep one representative per
    * distinct content WITHIN the batch ([[exact]]), then drop anything whose
    * content already exists in the landed corpus' [[contentIndex]] via a
    * left-anti join on the 128-bit content key — the shuffle carries keys,
    * never text. With the index bucketed on `h` the anti-join is co-located
    * and shuffle-free; new batches are small relative to history, so at scale
    * the BATCH side broadcasts into the index scan.
    */
  def incremental(newDocs: DataFrame, seenIndex: DataFrame,
      textCol: String, idCol: String): DataFrame =
    exact(newDocs, textCol, idCol)
      .withColumn("__h", unhex(md5(col(textCol).cast(BinaryType))))
      .join(seenIndex.select(col("h").as("__h")), Seq("__h"), "left_anti")
      .drop("__h")

  /** MinHash signature column: lane i = min over shingles of
    * `xxhash64(shingle)·A(i)+B(i)` (2-universal mixer — one multiply-add per
    * lane instead of a per-lane xxhash64 re-mix). Narrow; no shuffle.
    */
  def minhashSignature(text: Column, shingleN: Int, k: Int): Column =
    G.minhashSig(tokens(text), shingleN, k)

  /** (id, sig ARRAY<BIGINT>[k]) per document — a pure narrow projection. */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int): DataFrame =
    df.select(col(idCol).as("id"), minhashSignature(col(textCol), shingleN, k).as("sig"))

  /** MinHash + LSH near-duplicate pairs, exactly verified.
    *
    * Signatures are banded (`bands` bands of `k/bands` lanes); documents
    * sharing any band bucket become candidates (fan-out: `bands` rows per doc).
    * Candidates are then verified EXACTLY: the pair's true shingle-set Jaccard
    * is computed from the per-doc shingle sets and filtered at `threshold` —
    * so every emitted pair is a real near-duplicate (LSH affects recall only)
    * and the result is oracle-checkable against an exact all-pairs Jaccard.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard exact.
    */
  def minhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame =
    minhashPairsFromIndex(bandBuckets(df, textCol, idCol, shingleN, k, bands),
      shingleSets(df, textCol, idCol, shingleN), threshold)

  /** [[minhashPairs]] over a PREBUILT signature index — the landed-artifact
    * form (SCALE.md known non-optimality #1, closed r11): the one-shot
    * `minhashPairs` recomputes the tokenize+hash projection on both sides of
    * its band self-join and again for verification; at 100 TB the signature
    * frames are computed ONCE ([[bandBuckets]]/[[shingleSets]] — both narrow)
    * and land in the lake ([[writeSignatureIndex]]), and every pair report —
    * including [[minhashPairsIncremental]]'s day-N probes — reads the stored
    * frames instead of re-touching text. Identical output to the one-shot
    * form (same banding, same exact verification).
    */
  def minhashPairsFromIndex(bands: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val cand = bands.as("a").join(bands.as("b"), Seq("band", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyExactJaccard(cand, sets, threshold)
  }

  /** Land the MinHash signature index as lake artifacts: `dir/bands` (the
    * (id, band, bucket) LSH rows) and `dir/sets` (the (id, sh) shingle-hash
    * sets) — ONE tokenize+hash pass over the corpus, after which every pair
    * report ([[minhashPairsFromIndex]]) and every incremental ingest
    * ([[minhashPairsIncremental]]) runs off the stored frames. At cluster
    * scale, land both repartitioned on their join keys (bands on
    * (band, bucket), sets bucketed on id) so the probe joins co-locate.
    */
  def writeSignatureIndex(df: DataFrame, textCol: String, idCol: String,
      dir: String, shingleN: Int, k: Int, bands: Int): Unit = {
    require(k % bands == 0, "k must divide into bands")
    // one shared narrow pass: signature + shingle set projected together so
    // the text is tokenized once, then split into the two artifacts
    val base = df.select(col(idCol).as("id"),
      minhashSignature(col(textCol), shingleN, k).as("sig"),
      shingleHashSet(col(textCol), shingleN).as("sh"))
      .localCheckpoint(true)
    val rowsPerBand = k / bands
    val bandCols = (0 until bands).map(b => struct(lit(b).as("band"),
      hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket")))
    base.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .write.mode("overwrite").parquet(s"$dir/bands")
    base.select(col("id"), col("sh")).write.mode("overwrite").parquet(s"$dir/sets")
    base.unpersist(blocking = false)
  }

  /** Read a [[writeSignatureIndex]] artifact back: (bands, sets). */
  def readSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sets"))

  /** Right-to-erasure EXECUTION against the landed dedup artifacts (r11
    * verdict ask #7 — the maintenance counterpart of the audit: the audit
    * pins WHAT must change, this performs it). Erasure semantics per
    * artifact class:
    *  - PER-DOC artifacts (the LSH band index, the shingle-set index) and
    *    PAIR lists erase by FILTER — each row depends only on its own
    *    member doc(s), so dropping the deleted ids is exactly equivalent to
    *    a from-scratch rebuild on the retained corpus (the gated query
    *    proves this equivalence multiset-exactly);
    *  - DOCFREQ-dependent artifacts (the pruned postings index) REBUILD:
    *    deleting docs can bring a shingle back under the cap and
    *    legitimately ADD postings for retained docs (DedupSpec pins the
    *    re-admission case), so row deletion under-indexes;
    *  - the hash-only CONTENT index rebuilds too: it stores no refcounts,
    *    so whether a deleted doc's hash must go depends on whether a
    *    retained doc shares the content — answerable only by a pass over
    *    the retained corpus (a refcounted index would make this a filter;
    *    the landed artifact deliberately stores 128-bit keys only).
    *
    * The delete set is takedown-queue sized, so it BROADCASTS into the
    * index scans — erasing the per-doc artifacts costs one narrow pass over
    * each index, never a corpus shuffle; only the rebuild arms touch text.
    */
  def erasureApply(retained: DataFrame, deleteIds: DataFrame,
      landedBands: DataFrame, landedSets: DataFrame, landedPairs: DataFrame,
      textCol: String, idCol: String, shingleN: Int,
      maxDocFreq: Long): Map[String, DataFrame] = {
    val del = deleteIds.select(col(idCol).as("__del")).distinct()
    def drop(df: DataFrame, c: String): DataFrame =
      df.join(broadcast(del), df(c) === col("__del"), "left_anti")
    Map(
      "band_index" -> drop(landedBands, "id"),
      "shingle_sets" -> drop(landedSets, "id"),
      "near_dup_pairs" -> drop(drop(landedPairs, "id_a"), "id_b"),
      "content_index" -> contentIndex(retained, textCol),
      "pruned_postings" -> prunedPostings(retained, textCol, idCol, shingleN, maxDocFreq))
  }

  /** (id, band, bucket) LSH rows for a corpus slice — the persistable unit of
    * the banding in [[minhashPairs]]: `bands` rows per document, each keyed by
    * a 32-bit hash of that band's signature lanes. Narrow (no shuffle); a
    * curation run writes this next to the corpus as the incremental index.
    */
  def bandBuckets(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rowsPerBand = k / bands
    val sigs = minhashSignatures(df, textCol, idCol, shingleN, k)
    // static per-band bucket expressions — no lambda, all codegen'd
    val bandCols = (0 until bands).map(b => struct(lit(b).as("band"),
      hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket")))
    sigs.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** (id, sh ARRAY<BIGINT>) distinct shingle-hash sets — the verification
    * side of the persisted index.
    */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"), shingleHashSet(col(textCol), shingleN).as("sh"))

  /** Exact verification of candidate pairs: join ids back to shingle sets,
    * true Jaccard via array_intersect, filter at `threshold`. Every emitted
    * pair is a real near-duplicate (the candidate generator affects recall
    * only).
    */
  private def verifyExactJaccard(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("jaccard", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Incremental near-dup: a DELTA of new documents against a PERSISTED band
    * index (`baseBands`/`baseSets` from [[bandBuckets]]/[[shingleSets]] over
    * the existing corpus), plus delta-internal pairs — without ever
    * re-banding the base corpus. This is the day-N shape of LSH dedup at
    * 100 TB: the index is an artifact on disk; each ingest bands only its new
    * slice, probes the stored buckets, and appends its own rows to the index
    * afterward.
    *
    * Candidates = (new × all) sharing a band bucket; the base×base join
    * never happens, so the work scales with |delta| × bucket occupancy, not
    * corpus². Emits (id_a, id_b, jaccard) with id_a < id_b, exactly verified
    * — at least one side of every pair is a delta document.
    */
  def minhashPairsIncremental(
      delta: DataFrame, baseBands: DataFrame, baseSets: DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val newBands = bandBuckets(delta, textCol, idCol, shingleN, k, bands)
    // new side probes base ∪ new: pair order normalized by least/greatest so
    // a new-new bucket collision isn't emitted twice
    val cand = newBands.as("a")
      .join(baseBands.unionByName(newBands).as("b"), Seq("band", "bucket"))
      .filter(col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyExactJaccard(cand,
      baseSets.unionByName(shingleSets(delta, textCol, idCol, shingleN)), threshold)
  }

  /** MEASURED recall of banded MinHash vs exact Jaccard on a constructed
    * J-spread fixture (r15, verdict ask #2: the vector family has four gated
    * recall/quality curves; banded MinHash's recall was asserted from
    * banding theory — 1−(1−J^r)^b — never measured, and the sf0.01 truth
    * pairs are all J ∈ [0.88, 0.99], far above where the curve bends).
    *
    * Fixture: for each level `s` in `shared`, `pairsPerLevel` document pairs
    * of `n` distinct tokens each sharing exactly `s` tokens (every token
    * string is unique to its (level, pair, class) — nothing collides across
    * pairs), so true unigram-set Jaccard is exactly s/(2n−s). Signatures
    * use MD5-derived lane hashes (lane i = min over tokens of the first-8-
    * hex-digit fold of md5(token#i)) — the same oracle-reproducibility move
    * as SimHash64/winnowing, so per-pair band collision is DETERMINISTIC
    * and the whole curve is hash-gated in both engines; banding recall is a
    * distribution-level property, so the md5-lane curve is the xxhash64
    * production kernel's curve.
    *
    * Emits one row per level: (shared_tokens, jaccard, n_pairs, n_found,
    * recall) at the PRODUCTION banding shape (k lanes, `bands` bands of
    * k/bands rows; a pair is found iff some band's full lane slice agrees).
    *
    * Scale: the fixture is constant-size (levels × pairsPerLevel); in
    * production this gate runs at index-build time as a fixed-cost canary,
    * never over the corpus.
    */
  def minhashRecallCurve(spark: org.apache.spark.sql.SparkSession,
      shared: Seq[Int], n: Int, pairsPerLevel: Int,
      k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    require(shared.forall(s => s >= 0 && s <= n), "shared token counts must fit n")
    val r = k / bands
    import spark.implicits._
    val base = shared.toDF("s")
      .crossJoin(spark.range(pairsPerLevel.toLong).toDF("p"))
    val grams = base.select(col("s"), col("p"),
      explode(sequence(lit(0), lit(n - 1))).as("g"))
    def tok(cls: String): Column = concat(lit("x"), col("s").cast(StringType),
      lit("_"), col("p").cast(StringType), lit(s"_${cls}_"), col("g").cast(StringType))
    def side(name: String): DataFrame = grams.select(col("s"), col("p"),
      lit(name).as("side"),
      when(col("g") < col("s"), tok("s")).otherwise(tok(name)).as("tok"))
    val toks = side("a").unionAll(side("b"))
    // per-lane min over the token set: 64 static codegen'd min aggregates of
    // the md5-prefix fold (conv(substr(md5, 1, 8)) ≡ the DuckDB strpos fold)
    def laneHash(i: Int): Column =
      conv(substring(md5(concat(col("tok"), lit(s"#$i"))), 1, 8), 16, 10).cast(LongType)
    val lanes = (0 until k).map(i => min(laneHash(i)).as(s"m$i"))
    val sig = toks.groupBy(col("s"), col("p"), col("side"))
      .agg(lanes.head, lanes.tail: _*)
    val a = sig.filter(col("side") === "a").drop("side").as("a")
    val b = sig.filter(col("side") === "b").drop("side").as("b")
    val found = (0 until bands).map(bd =>
        (0 until r).map(j => col(s"a.m${bd * r + j}") === col(s"b.m${bd * r + j}"))
          .reduce(_ && _))
      .reduce(_ || _)
    a.join(b, col("a.s") === col("b.s") && col("a.p") === col("b.p"))
      .select(col("a.s").as("shared_tokens"), found.as("__f"))
      .groupBy(col("shared_tokens"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__f"), 1L).otherwise(0L)).cast(LongType).as("n_found"))
      .select(col("shared_tokens").cast(LongType).as("shared_tokens"),
        (col("shared_tokens").cast(DoubleType) /
          (lit(2 * n) - col("shared_tokens")).cast(DoubleType)).as("jaccard"),
        col("n_pairs"), col("n_found"),
        (col("n_found").cast(DoubleType) / col("n_pairs").cast(DoubleType)).as("recall"))
      .orderBy("shared_tokens")
  }

  /** SimHash fingerprint column ([[graft.expressions.SimHash64]]): one narrow
    * kernel pass per document, MD5-derived bits for oracle reproducibility.
    */
  def simhash(text: Column, shingleN: Int = 2): Column =
    G.simhash64(tokens(text), shingleN)

  /** SimHash attached to the full input frame — narrow `withColumn`, the
    * payload never moves.
    */
  def withSimhash(df: DataFrame, textCol: String, idCol: String, outCol: String,
      shingleN: Int = 2): DataFrame =
    df.withColumn(outCol, simhash(col(textCol), shingleN))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact n-gram Jaccard near-duplicate pairs via an inverted shingle index:
    * explode distinct shingle hashes, self-join on shingle (co-occurrence
    * count = |A∩B|), combine with per-doc set sizes for |A∪B|.
    *
    * Shuffles: docFreq aggregation + the pair aggregation — both
    * partial-aggregable. `maxDocFreq` drops shingles occurring in more than
    * that many docs (inverted-index stopword pruning; at worst it lowers
    * recall for boilerplate-only overlap) and simultaneously bounds the
    * per-shingle join fan-out to maxDocFreq² rows — the skew guard for hot
    * shingles at corpus scale.
    */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Long = 1000L): DataFrame =
    ngramJaccardPairsFrom(prunedPostings(df, textCol, idCol, n, maxDocFreq), threshold)

  /** Pruned inverted shingle index `(id, sz, sh)` — one row per (document,
    * distinct shingle hash), with the per-doc set size alongside and
    * hot shingles (docFreq > maxDocFreq) dropped. This is the shared
    * substrate of [[ngramJaccardPairsFrom]] and [[containmentPairsFrom]]; a
    * curation run builds it once (or persists it next to the corpus) and
    * feeds both passes, instead of re-mining shingles per measure.
    */
  def prunedPostings(df: DataFrame, textCol: String, idCol: String,
      n: Int, maxDocFreq: Long): DataFrame = {
    // one narrow pass: (id, set size, exploded shingle hash)
    val posts = df.select(col(idCol).as("id"), shingleHashSet(col(textCol), n).as("arr"))
      .select(col("id"), size(col("arr")).as("sz"), explode(col("arr")).as("sh"))
    val rare = posts.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
    posts.join(rare.select("sh"), Seq("sh"), "left_semi")
  }

  /** [[ngramJaccardPairs]] over a prebuilt [[prunedPostings]] index. */
  def ngramJaccardPairsFrom(pruned: DataFrame, threshold: Double): DataFrame = {
    // Size-ratio prefilter (set-similarity joins, e.g. Xiao et al. PPJoin):
    // J(A,B) >= t  ⟹  t·|A| <= |B| <= |A|/t. Purely a pruning bound — every
    // surviving pair is still exactly verified — but it cuts the candidate
    // aggregation's shuffle before it happens.
    val l = pruned.select(col("sh"), col("id").as("id_a"), col("sz").as("sz_a"))
    val r = pruned.select(col("sh"), col("id").as("id_b"), col("sz").as("sz_b"))
    val inter = l.join(r, Seq("sh"))
      .filter(col("id_a") < col("id_b") &&
        col("sz_b") >= col("sz_a") * threshold &&
        col("sz_a") >= col("sz_b") * threshold)
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("sz_a") + col("sz_b") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Within-corpus CONTAINMENT pairs: |A∩B| / min(|A|, |B|) over n-gram
    * shingle sets — the asymmetric complement of [[ngramJaccardPairs]]. A
    * short document wholly embedded in a long one (quote farms, boilerplate
    * wrappers, page-of-pages scrapes) has Jaccard ≈ |short|/|long| → 0 but
    * containment ≈ 1, so symmetric dedup never sees it; this is the standard
    * reason corpus pipelines run a containment pass alongside Jaccard (same
    * measure [[contamination]] uses against benchmarks, here corpus-vs-self).
    *
    * Emits (contained_id, container_id, containment): `contained_id` is the
    * smaller shingle set (ties → the larger id, so the surviving container of
    * an exact-dup pair is the min id, matching [[exact]]'s keep rule).
    *
    * Scale: identical shape to [[ngramJaccardPairs]] — postings shuffle on
    * the shingle key, `maxDocFreq` caps the per-key fan-out (the skew guard;
    * containment admits no size-ratio prefilter since asymmetric sizes are
    * exactly the point), candidate aggregation is partial-aggregable.
    */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Long = 1000L): DataFrame =
    containmentPairsFrom(prunedPostings(df, textCol, idCol, n, maxDocFreq), threshold)

  /** [[containmentPairs]] over a prebuilt [[prunedPostings]] index. */
  def containmentPairsFrom(pruned: DataFrame, threshold: Double): DataFrame = {
    val l = pruned.select(col("sh"), col("id").as("id_a"), col("sz").as("sz_a"))
    val r = pruned.select(col("sh"), col("id").as("id_b"), col("sz").as("sz_b"))
    val inter = l.join(r, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("containment", col("inter").cast(DoubleType) /
        least(col("sz_a"), col("sz_b")).cast(DoubleType))
      .filter(col("containment") >= threshold)
      .withColumn("contained_id",
        when(col("sz_a") < col("sz_b"), col("id_a"))
          .when(col("sz_b") < col("sz_a"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))))
      .withColumn("container_id",
        when(col("contained_id") === col("id_a"), col("id_b")).otherwise(col("id_a")))
      .select("contained_id", "container_id", "containment")
  }

  /** Exact-dedup → n-gram Jaccard → weighted-pair expansion (r14): the
    * [[winnowMatchesDeduped]] / [[embeddingPairsDeduped]] composition applied
    * to the THIRD pair family. [[ngramJaccardPairs]]' `maxDocFreq` cap counts
    * REPLICAS: under heavy exact replication every shingle crosses the cap,
    * classifies as boilerplate, and the posting join reports (near) zero
    * pairs — the same failure shape the 100× probes exposed for winnowing.
    * (The scale probes' workaround of scaling the cap with k is a knob, not
    * semantics — production replication factors are unknown per shingle.)
    *
    * Composed: (1) cluster byte-identical texts (128-bit content key, min-id
    * keeper, size); (2) run the pruned-postings Jaccard join on the keepers
    * at the ORIGINAL config — docFreq now counts distinct CONTENTS; (3)
    * expand logical pair weights: a keeper pair (a, b, J) stands for
    * |C_a|·|C_b| pairs, and each cluster of size > 1 adds an intra row whose
    * Jaccard replicates what the direct run computes for two identical docs
    * under the content-frequency cap: kept-posting count k over full set
    * size sz → J = k / (2·sz − k) (docFreq pruning shrinks the
    * INTERSECTION, not the sizes), emitted only when ≥ threshold and k ≥ 1
    * — a fully-capped-out or shingle-less cluster emits nothing, exactly
    * like the direct posting join.
    *
    * Scale: the content-hash agg is one map-side-combinable exchange over
    * 16-byte keys; everything quadratic-prone runs on the deduped survivor
    * set, so per-shingle fan-out is bounded by distinct-content docFreq —
    * replication never reaches the join.
    */
  def ngramJaccardPairsDeduped(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Long = 1000L): DataFrame = {
    val (clusters, pruned) = dedupedPostings(df, textCol, idCol, n, maxDocFreq)
    val pairs = ngramJaccardPairsFrom(pruned, threshold)
    val sa = clusters.select(col("__kid").as("id_a"), col("__csz").as("__ca"))
    val sb = clusters.select(col("__kid").as("id_b"), col("__csz").as("__cb"))
    val cross = pairs.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        (col("__ca") * col("__cb")).as("n_pairs"))
    val intra = intraStats(clusters, pruned)
      .withColumn("jaccard", col("__k").cast(DoubleType) /
        (lit(2) * col("__sz") - col("__k")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("__kid").as("id_a"), col("__kid").as("id_b"), col("jaccard"),
        (col("__csz") * (col("__csz") - 1) / 2).cast(LongType).as("n_pairs"))
    cross.unionByName(intra)
  }

  /** [[ngramJaccardPairsDeduped]]'s asymmetric twin: exact-dedup →
    * [[containmentPairs]] → weighted expansion. Intra containment for an
    * identical pair is k / sz (shared kept postings over the common set
    * size — `min` of two equal sizes); the contained/container distinction
    * collapses onto the keeper id for intra rows, matching the composed
    * contract (both sides are the same content).
    */
  def containmentPairsDeduped(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Long = 1000L): DataFrame = {
    val (clusters, pruned) = dedupedPostings(df, textCol, idCol, n, maxDocFreq)
    val pairs = containmentPairsFrom(pruned, threshold)
    val sa = clusters.select(col("__kid").as("contained_id"), col("__csz").as("__ca"))
    val sb = clusters.select(col("__kid").as("container_id"), col("__csz").as("__cb"))
    val cross = pairs.join(sa, "contained_id").join(sb, "container_id")
      .select(col("contained_id"), col("container_id"), col("containment"),
        (col("__ca") * col("__cb")).as("n_pairs"))
    val intra = intraStats(clusters, pruned)
      .withColumn("containment", col("__k").cast(DoubleType) / col("__sz").cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select(col("__kid").as("contained_id"), col("__kid").as("container_id"),
        col("containment"),
        (col("__csz") * (col("__csz") - 1) / 2).cast(LongType).as("n_pairs"))
    cross.unionByName(intra)
  }

  /** Exact-dedup → banded MinHash LSH → weighted-pair expansion (r14): the
    * composition on the FOURTH pair generator. [[minhashPairs]] has no
    * docFreq cap to mislead — its banded index is linear in TRUE output —
    * but under heavy exact replication that true output is dominated by
    * replica self-pairs it enumerates PHYSICALLY (100× probe: 364 s /
    * 9.9 GiB for 27.3 M pairs, every one verified through an
    * array_intersect of two identical sets). Composed, the replicas
    * collapse before banding: LSH runs over distinct contents, the replica
    * mass returns as C(sz,2) arithmetic, and the logical multiset is
    * identical (intra jaccard is literally 1.0 — identical texts have
    * identical shingle sets, and [[shingleHashSet]]'s whole-text fallback
    * means the set is never empty, so 1.0 is always the true value —
    * guarded only against threshold > 1 configs).
    */
  def minhashPairsDeduped(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val clusters = exactClusters(df, textCol, idCol)
    val surv = df.join(clusters.select(col("__kid").as(idCol)), Seq(idCol), "left_semi")
    val pairs = minhashPairs(surv, textCol, idCol, shingleN, k, bands, threshold)
    expandMinhashWeights(pairs,
      clusters.select(col("__kid").as("kid"), col("__csz").as("csz")), threshold)
  }

  /** Step 3 of the minhash dedup-first composition, SHARED by the batch
    * operator and the streaming twin (r15 self-review: the expansion law —
    * |C_a|·|C_b| cross weights, (keeper, keeper, 1.0, C(sz,2)) intra rows,
    * the threshold guard on the literal-1.0 jaccard — must live once or the
    * two gates can silently diverge). `clusters` = (kid keeper id, csz
    * cluster size); `pairs` = (id_a, id_b, jaccard) over keepers.
    */
  def expandMinhashWeights(pairs: DataFrame, clusters: DataFrame,
      threshold: Double): DataFrame = {
    val sa = clusters.select(col("kid").as("id_a"), col("csz").as("__ca"))
    val sb = clusters.select(col("kid").as("id_b"), col("csz").as("__cb"))
    val cross = pairs.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        (col("__ca") * col("__cb")).as("n_pairs"))
    // intra jaccard is literally 1.0 — identical texts have identical
    // shingle sets and the whole-text fallback means the set is never
    // empty; a threshold > 1 config emits no intra rows
    val intra = clusters.filter(col("csz") > 1 && lit(1.0) >= lit(threshold))
      .select(col("kid").as("id_a"), col("kid").as("id_b"),
        lit(1.0).as("jaccard"),
        (col("csz") * (col("csz") - 1) / 2).cast(LongType).as("n_pairs"))
    cross.unionByName(intra)
  }

  /** Shared first stage of the deduped posting compositions: exact-content
    * clusters (keeper id, size) and the [[prunedPostings]] index built over
    * the keepers only.
    */
  private def dedupedPostings(df: DataFrame, textCol: String, idCol: String,
      n: Int, maxDocFreq: Long): (DataFrame, DataFrame) = {
    val clusters = exactClusters(df, textCol, idCol)
    val surv = df.join(clusters.select(col("__kid").as(idCol)), Seq(idCol), "left_semi")
    (clusters, prunedPostings(surv, textCol, idCol, n, maxDocFreq))
  }

  /** Per-cluster intra inputs: clusters of size > 1 whose keeper kept ≥ 1
    * posting under the cap, with kept count `__k` and full set size `__sz`.
    */
  private def intraStats(clusters: DataFrame, pruned: DataFrame): DataFrame =
    clusters.filter(col("__csz") > 1)
      .join(pruned.groupBy(col("id").as("__kid"))
        .agg(count(lit(1)).as("__k"), max(col("sz")).as("__sz")), Seq("__kid"))

  /** Connected components over a near-duplicate pair graph: every id gets the
    * minimum id reachable from it (`cluster_id`), via iterative min-label
    * propagation. The canonical survivor of each cluster is the row whose
    * `id == cluster_id` ([[nearDupSurvivors]]).
    *
    * Scale: this is the standard big-graph CC shape (cf. large-star/small-star
    * — Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * each round is one edge-labels join + min aggregation, and rounds are
    * bounded by component diameter, which for near-dup clusters is tiny.
    * `localCheckpoint` truncates the iterative lineage (swap for a
    * lake-backed checkpoint dir on a cluster).
    *
    * Only ids that appear in at least one pair can ever receive a label other
    * than their own, so the iterated frame is restricted to pair-touched ids —
    * at a realistic dup rate (~10¹⁰ docs, ~10⁶ dup pairs) that shrinks every
    * per-round join by four orders of magnitude. The untouched remainder of
    * the corpus is unioned in afterward as singleton clusters (cluster_id =
    * id), one anti-join, no iteration.
    */
  def connectedComponents(ids: DataFrame, pairs: DataFrame, maxIter: Int = 20,
      driverThreshold: Int = 10000): DataFrame = {
    // HYBRID: the verified near-dup pair list is usually tiny relative to the
    // corpus (25 pairs for 5,000 sf0.1 docs; duplication rate, not corpus
    // size, bounds it). Below `driverThreshold` pairs, label them with a
    // driver-side union-find instead of the iterative plan: the distributed
    // loop costs ~2 driver-synchronized jobs per round (checkpoint + converge
    // check) — pure scheduling latency when the data is kilobytes. take(n+1)
    // runs the expensive upstream LSH/verify plan once on the fast path; on
    // overflow (> driverThreshold pairs) it falls through to the distributed
    // path, whose localCheckpoint re-runs the plan — one accepted extra
    // partial pass on the big-graph path, never on the common small one.
    val head = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .take(driverThreshold + 1)
    if (head.length <= driverThreshold) {
      val s = ids.sparkSession
      import s.implicits._
      // Corpus membership for the ≤ 2·threshold distinct endpoints, resolved
      // with one bounded semi-join (the ids frame itself may be the whole
      // corpus — never collected). Edges with an off-corpus endpoint are
      // dropped BEFORE the union: in the distributed path such endpoints
      // carry no label and can neither relay nor supply one, so (0,5),(0,7)
      // with 0 off-corpus must leave 5 and 7 in separate singleton clusters,
      // not merge them through the phantom 0.
      val endpoints = head.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.toSeq
      val member: Set[Long] = s.createDataset(endpoints).toDF("id")
        .join(ids.select(col("id").cast("long").as("id")), Seq("id"), "left_semi")
        .as[Long].collect().toSet
      val edges = head.iterator
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (a, b) => member(a) && member(b) }
        .toSeq
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // min-label union: same canonical representative as the distributed
        // min-propagation, so both paths emit identical cluster ids
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(x => (x, find(x)))
      val touchedLabels = s.createDataset(touched).toDF("id", "cluster_id")
      val singletons = ids.select(col("id"))
        .join(touchedLabels.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster_id"))
      return touchedLabels.union(singletons)
    }
    // materialize the (small) edge list ONCE: the upstream pairs plan is
    // typically an expensive LSH/verify pipeline, and without this checkpoint
    // every loop iteration — plus the touched-id projection — would re-run it
    val edges = pairs.select(col("id_a").as("s"), col("id_b").as("d"))
      .union(pairs.select(col("id_b").as("s"), col("id_a").as("d")))
      .localCheckpoint(true)
    // endpoints restricted to ids actually in the corpus frame: a stray edge
    // through an off-corpus id must stay inert (no label relay through it, no
    // phantom cluster_id the survivor filter could never match), exactly as
    // when labels seeded from the full ids frame
    val touched = edges.select(col("s").as("id")).distinct()
      .join(ids.select(col("id")), Seq("id"), "left_semi").localCheckpoint(true)
    val seed = touched.select(col("id"), col("id").as("cluster_id")).localCheckpoint(true)
    var labels = seed
    // superseded checkpoints are unpersisted as soon as their successor is
    // materialized (localCheckpoint(eager=true) returns only after the blocks
    // exist): without this, every bench/ingest run leaves one RDD's blocks per
    // iteration in the block manager until a GC lets ContextCleaner find them
    // — cross-run memory growth for a long-lived session. The FINAL labels
    // checkpoint and `touched` stay persisted: the returned frame reads them
    // lazily, and a truncated-lineage RDD cannot be recomputed once dropped.
    var prevCkpt = seed
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("d"), col("cluster_id").as("dl")), Seq("d"))
        .groupBy(col("s").as("id")).agg(min(col("dl")).as("nl"))
      // the change flag rides the same join that computes the new labels, so
      // the convergence test below scans the checkpointed result instead of
      // re-joining this round's labels against the previous round's
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nl"), col("cluster_id"))).as("cluster_id"),
          (coalesce(col("nl"), col("cluster_id")) < col("cluster_id")).as("__changed"))
        .localCheckpoint(true)
      converged = next.filter(col("__changed")).limit(1).isEmpty
      labels = next.select("id", "cluster_id")
      prevCkpt.unpersist(blocking = false)
      prevCkpt = next
      i += 1
    }
    edges.unpersist(blocking = false) // final labels' lineage no longer reads it
    val singletons = ids.select(col("id")).join(touched, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    labels.union(singletons)
  }

  /** Per-document cluster labels through a KEEPER pair graph — the consumer
    * substrate of the dedup-first compositions (r15, verdict ask #1: r14
    * proved the composed graph for REPORTING; the decision consumers —
    * keep/drop audit, leakage-safe split, duplication-penalized sampling,
    * survivor policy — still read the direct index, which is exactly the
    * shape that breaks under heavy exact replication: capped-out
    * fingerprints → missed near-dups → leaked splits).
    *
    * Input `keeperPairs` is any composed pair report over the exact-dedup
    * keepers ([[minhashPairsDeduped]], [[ngramJaccardPairsDeduped]], ...);
    * intra rows (id_a == id_b) are ignored — they carry replica weights,
    * not graph edges. Output: one row per LOGICAL document with
    * (`id`, `keeper_id` = its content group's min-id keeper, `cluster_id` =
    * the keeper's connected component). Replicas inherit their keeper's
    * cluster, so every downstream decision — split hash, 1/|cluster|
    * weight, survivor choice — sees the composed graph.
    *
    * Equivalence: when the direct pair index has perfect recall (no cap
    * binding, banding recall ≈ 1), these labels EQUAL the direct
    * clustering's — the component min is always a keeper (a content group's
    * keeper has the group's min id and shares its edges), pinned by
    * DedupSpec. Where the direct index caps out, these labels are the
    * correct ones.
    *
    * Scale: the keeper mapping is one 16-byte-content-key window over
    * (id, hash) rows (frames are replication-bounded); CC runs on the
    * keeper pair graph only (duplication-bounded, never corpus²); the label
    * join keys on keeper ids. Replication never reaches an exchange as
    * pair rows.
    */
  def composedClusterIndex(df: DataFrame, textCol: String, idCol: String,
      keeperPairs: DataFrame): DataFrame = {
    val keeper = df.select(col(idCol).as("id"),
      min(col(idCol)).over(
        Window.partitionBy(unhex(md5(col(textCol).cast(BinaryType))))).as("keeper_id"))
    val cc = connectedComponents(
      keeper.filter(col("id") === col("keeper_id")).select("id"),
      keeperPairs.filter(col("id_a") =!= col("id_b")).select("id_a", "id_b"))
    keeper.join(cc.select(col("id").as("keeper_id"), col("cluster_id")), Seq("keeper_id"))
      .select(col("id"), col("keeper_id"), col("cluster_id"))
  }

  /** One row per near-dup cluster: keep the minimum-id member of each
    * connected component of the pair graph (plus every unpaired row).
    */
  def nearDupSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(df.select(col(idCol).as("id")), pairs)
    df.join(comps.filter(col("id") === col("cluster_id")).select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** One row per near-dup cluster, chosen by POLICY: keep the member with the
    * highest `priority` (ties → minimum id) — the production selection rule
    * (keep the longest / highest-quality-score representative, per
    * C4/RefinedWeb practice) where [[nearDupSurvivors]]' min-id rule is the
    * arbitrary-but-deterministic default. `priority` may reference any column
    * of `df`.
    *
    * Scale: one row_number window partitioned by cluster_id — cluster sizes
    * are duplication-bounded (a few members each), so frames stay tiny and
    * the shuffle is one row per document, keyed on the cluster. Unpaired
    * documents ride the same path as singleton clusters.
    */
  def nearDupSurvivorsBy(df: DataFrame, idCol: String, pairs: DataFrame,
      priority: Column): DataFrame =
    nearDupSurvivorsByFrom(df, idCol,
      connectedComponents(df.select(col(idCol).as("id")), pairs), priority)

  /** [[nearDupSurvivorsBy]] over a PREBUILT cluster labeling (`id`,
    * `cluster_id`) — the form the composed-graph consumers use (r15): the
    * labeling is built once ([[composedClusterIndex]], session-cached) and
    * every policy choice reads it, instead of re-running CC per consumer.
    */
  def nearDupSurvivorsByFrom(df: DataFrame, idCol: String, labels: DataFrame,
      priority: Column): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(priority.desc, col(idCol).asc)
    df.join(labels.select(col("id").as(idCol), col("cluster_id")), Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "cluster_id")
  }

  /** Cross-document duplicated-passage spans (the passage-level dedup step a
    * C4/RefinedWeb-style pipeline runs between whole-document dedup and
    * within-document repetition filtering): find every position whose n-token
    * shingle occurs in ≥ `minDocFreq` DISTINCT documents, then merge
    * overlapping/adjacent positions into token spans via gaps-and-islands
    * (running max of span end over preceding positions → island ids).
    * Emits (id, span_start, span_end, n_dup_shingles) in token coordinates —
    * the cut list a span-removal pass consumes.
    *
    * Shingle keys are 128-bit struct(h1, h2) values from the codegen'd
    * [[graft.expressions.ShingleHashes128]] kernel in DOCUMENT ORDER, so
    * `posexplode` yields (position, key) directly — the interpreted
    * string-shingle lambda this replaced cost 6 s at sf0.1 vs 0.5 s, the
    * same round-2 lesson as every other kernel in this file. 128-bit keys
    * per this file's content-key standard: a collision here marks a FALSE
    * duplicated span (silent text loss downstream), and at 10¹² positions
    * the 64-bit birthday bound is a near-certainty while 128-bit is ~10⁻¹³.
    * The shuffle still carries only 16-byte keys.
    *
    * Skew: at the default `minDocFreq = 2` the duplicated-shingle test is
    * `min(id) != max(id)` — two partial-aggregable extrema, so a boilerplate
    * shingle present in 10⁸ documents reduces to one row per map partition
    * before the shuffle (no countDistinct expansion on a hot key). With a
    * non-default `minDocFreq` or a `maxDocFreq` ceiling the exact
    * `countDistinct` path runs instead. `maxDocFreq` (off by default — a
    * hyper-common shingle IS a duplicated passage, so capping changes
    * semantics) is the cost/recall knob for degenerate corpora where
    * marking universal boilerplate is not worth the span traffic; callers
    * opt in knowingly, mirroring [[ngramJaccardPairs]]'s docFreq cap.
    */
  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int = 8, minDocFreq: Int = 2, maxDocFreq: Option[Long] = None): DataFrame = {
    val posts = df
      .select(col(idCol).as("id"),
        posexplode(G.shingleHashes128(tokens(col(textCol)), n))
          .as(Seq("pos", "sh")))
    val dup = (minDocFreq, maxDocFreq) match {
      case (2, None) =>
        posts.groupBy("sh").agg(min(col("id")).as("__lo"), max(col("id")).as("__hi"))
          .filter(col("__lo") =!= col("__hi"))
      case (lo, hiOpt) =>
        val counted = posts.groupBy("sh").agg(countDistinct(col("id")).as("df"))
          .filter(col("df") >= lo)
        hiOpt.fold(counted)(hi => counted.filter(col("df") <= hi))
    }
    val hits = posts.join(dup.select("sh"), Seq("sh"), "left_semi")
      .select(col("id"), col("pos"), (col("pos") + lit(n - 1)).as("end"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    val runMax = max(col("end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = hits
      .withColumn("__new", when(col("pos") > coalesce(runMax, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("id"), col("__island"))
      .agg(min(col("pos")).as("span_start"), max(col("end")).as("span_end"),
        count(lit(1)).as("n_dup_shingles"))
      .select("id", "span_start", "span_end", "n_dup_shingles")
  }

  /** Apply a [[duplicatedSpans]] cut list: drop every token whose position
    * falls inside one of the document's spans and reassemble the remainder —
    * the consumer side of passage-level dedup. Documents whose every token is
    * covered (including sub-n docs, whose single whole-doc shingle spans all
    * positions) have no surviving tokens and are ABSENT from the output
    * (generator semantics, like [[graft.operators.Packing.chunkDocs]]).
    *
    * Scale: tokens shuffle once on the id for the anti range join (equi on
    * id + position bounds as residual), then once for the per-doc reassembly
    * — both partial-aggregable, nothing quadratic.
    */
  def removeSpans(df: DataFrame, spans: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"), posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val kept = toks.as("t").join(
      spans.select(col("id").as("sid"), col("span_start"), col("span_end")),
      col("t.id") === col("sid") &&
        col("t.pos") >= col("span_start") && col("t.pos") <= col("span_end"),
      "left_anti")
    kept.groupBy(col("id")).agg(
      // GetArrayStructFields (codegen'd) instead of an interpreted
      // per-token `transform` lambda (r18 optimization)
      array_join(array_sort(collect_list(struct(col("pos"), col("tok"))))
        .getField("tok"), " ").as("clean_text"),
      count(lit(1)).as("n_tokens_kept"))
  }

  /** Benchmark decontamination: for corpus documents, n-gram CONTAINMENT of
    * each benchmark document — |S_corpus ∩ S_bench| / |S_bench| — via the
    * same inverted-index join as [[ngramJaccardPairs]]. A corpus doc that
    * contains most of a benchmark doc's n-grams is contaminated and must be
    * dropped before training. Containment (not Jaccard) is the right measure:
    * a long web page embedding a short benchmark item has low Jaccard but
    * containment ≈ 1.
    *
    * Returns (corpus_id, bench_id, containment) for pairs ≥ `minContainment`.
    * Scale: shuffles only posting keys; benchmark sets are typically small, so
    * the bench-side postings broadcast.
    */
  def contamination(
      corpus: DataFrame, benchmark: DataFrame, textCol: String, idCol: String,
      n: Int = 8, minContainment: Double = 0.5): DataFrame = {
    val cPosts = corpus.select(col(idCol).as("corpus_id"), shingleHashSet(col(textCol), n).as("arr"))
      .select(col("corpus_id"), explode(col("arr")).as("sh"))
    val bPosts = benchmark.select(col(idCol).as("bench_id"), shingleHashSet(col(textCol), n).as("arr"))
      .select(col("bench_id"), size(col("arr")).as("bsz"), explode(col("arr")).as("sh"))
    cPosts.join(bPosts, Seq("sh"))
      .groupBy(col("corpus_id"), col("bench_id"), col("bsz"))
      .agg(count(lit(1)).as("it"))
      .withColumn("containment", col("it").cast(DoubleType) / col("bsz").cast(DoubleType))
      .filter(col("containment") >= minContainment)
      .select("corpus_id", "bench_id", "containment")
  }

  /** Deterministic ±1 random hyperplanes for [[embeddingPairs]] — shared with
    * the DuckDB oracle generator so both engines bucket identically.
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    (0 until planes).map { p =>
      val rnd = new java.util.Random(seed * 1000003L + p)
      Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }

  /** Embedding-cosine near-duplicate pairs over an `Array[Float]` column.
    *
    * Random-hyperplane LSH (Charikar 2002), banded like MinHash: bit i =
    * sign(v · plane_i) computed by the codegen'd [[graft.expressions.VectorDot]]
    * kernel against LITERAL ±1 plane vectors; `bands` bands of `planes/bands`
    * bits each OR together, so recall doesn't collapse to p^planes and the
    * per-bucket population is 2^(planes/bands)× smaller than a single
    * signature — the round-2 fixed-2^planes-bucket scale flaw. Candidates are
    * verified by exact cosine. Returns (id_a, id_b, cos), id_a < id_b.
    *
    * 100 TB note: per-band bucket population is the skew knob — raise
    * planes/bands (finer buckets) or cap candidates per bucket for truly
    * degenerate corpora (a cap trades recall and is off here for parity).
    */
  def embeddingPairs(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, dim: Int = 64,
      planes: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    require(planes % bands == 0, "planes must divide into bands")
    val rowsPerBand = planes / bands
    require(planes <= 31, "signature must fit an int")
    val pvs = hyperplanes(planes, dim, seed)
    // one `planes`-bit signature int per row; each band's bucket is a bit
    // slice of it, so the whole bucketing is 16 codegen'd dot products + int
    // shifts — computed in the same narrow projection the explode reads
    val sig = pvs.zipWithIndex
      .map { case (p, i) =>
        when(G.vectorDot(col("v"), typedLit(p)) >= 0, lit(1 << i)).otherwise(lit(0)) }
      .reduce(_ + _)
    val mask = (1 << rowsPerBand) - 1
    def slice(c: Column, b: Int): Column = shiftrightunsigned(c, b * rowsPerBand).bitwiseAND(lit(mask))
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"), slice(col("sig"), b).as("bucket")))
    // per-doc norm precomputed once (2 of cosine's 3 dot products move from
    // per-candidate-pair to per-doc); numerically identical to the inline
    // sqrt(v·v) so the emitted cos is bit-for-bit unchanged
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", sig)
      .withColumn("nrm", sqrt(G.vectorDot(col("v"), col("v"))))
      .select(col("id"), col("v"), col("nrm"), col("sig"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("v"), col("nrm"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // SHUFFLE-FREE pair dedup: a pair colliding in k bands would surface k
    // times; instead of a dropDuplicates shuffle over the candidate set, keep
    // a match only in the FIRST band where the two signatures' slices agree —
    // decidable per-row from sig_a ^ sig_b with static int ops. The residual
    // join condition is ordered cheap→expensive ON PURPOSE (id ordering, band
    // dedup, then the one exact-cosine dot product): a post-join filter would
    // be pushed into the join condition AHEAD of the cheap predicates and run
    // the dot product on every raw bucket match. The only exchange in the
    // whole plan is the band-bucket join itself (broadcast at small scale via
    // AQE, hash-partitioned at 100 TB) — no dropDuplicates pass, no candidate
    // materialization.
    // the probe side fans out to shuffle.partitions tasks: a small corpus
    // arrives as one file = one partition, and without this the entire
    // bucket-match × verify loop runs on a single core (at cluster scale the
    // scan is already multi-partition and this is one cheap narrow exchange
    // of (id, nrm, sig) rows). The partition count is EXPLICIT so AQE's
    // small-shuffle coalescing doesn't fold the probe back into one task.
    val probeParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val a = bucketed.repartition(probeParts, col("id")).as("a"); val b = bucketed.as("b")
    val x = col("a.sig").bitwiseXOR(col("b.sig"))
    val earlierBandMatches = (0 until bands)
      .map(bd => col("a.band") > bd && (slice(x, bd) === 0))
      .reduce(_ || _)
    val cos = G.vectorDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
    a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id") && !earlierBandMatches && cos >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), cos.as("cos"))
  }

  /** [[embeddingPairs]] in the PB-scale shape (PLANS.md non-optimality #2
    * closed): the banded frame carries ONLY (id, sig, band, bucket) — the
    * vector and its norm never ride the bands× explode — and the exact
    * cosine verify joins the vectors back BY ID after the (still
    * shuffle-free) first-matching-band pair dedup. Costs two extra id-keyed
    * hash joins; saves bands× the vector payload on the band-bucket
    * exchange, which dominates once dim×4 bytes ≫ the 12-byte band row —
    * the 100 TB trade. Emits the identical (id_a, id_b, cos) multiset (same
    * signatures, same first-band rule, same cosine kernel — bit-for-bit;
    * DedupSpec pins slim ≡ carried on the corpus).
    */
  def embeddingPairsSlim(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, dim: Int = 64,
      planes: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    require(planes % bands == 0, "planes must divide into bands")
    val rowsPerBand = planes / bands
    require(planes <= 31, "signature must fit an int")
    val pvs = hyperplanes(planes, dim, seed)
    val sig = pvs.zipWithIndex
      .map { case (p, i) =>
        when(G.vectorDot(col("v"), typedLit(p)) >= 0, lit(1 << i)).otherwise(lit(0)) }
      .reduce(_ + _)
    val mask = (1 << rowsPerBand) - 1
    def slice(c: Column, b: Int): Column = shiftrightunsigned(c, b * rowsPerBand).bitwiseAND(lit(mask))
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"), slice(col("sig"), b).as("bucket")))
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", sig)
      .withColumn("nrm", sqrt(G.vectorDot(col("v"), col("v"))))
    // the banded frame: 12-byte rows, no payload — localCheckpoint-free,
    // recomputed from the narrow projection on each side of the self-join
    val bucketed = vecs
      .select(col("id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val probeParts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val a = bucketed.repartition(probeParts, col("id")).as("a"); val b = bucketed.as("b")
    val x = col("a.sig").bitwiseXOR(col("b.sig"))
    val earlierBandMatches = (0 until bands)
      .map(bd => col("a.band") > bd && (slice(x, bd) === 0))
      .reduce(_ || _)
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id") && !earlierBandMatches)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val va = vecs.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val vb = vecs.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val cos = G.vectorDot(col("va"), col("vb")) / (col("na") * col("nb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .filter(cos >= threshold)
      .select(col("id_a"), col("id_b"), cos.as("cos"))
  }

  /** Exact-dedup → LSH → weighted-pair expansion: the composition the 100×
    * probe proved is the ONLY shape that survives heavy exact replication
    * (SCALE.md r13 — direct banding at replication k makes every colliding
    * base pair a k×k candidate block, candidates ∝ replication², and no int
    * signature buys buckets fine enough; composed, nothing quadratic ever
    * reaches an exchange: 424 M logical pairs in 10 s / 52 MiB at 100×).
    *
    * Step 1 groups byte-identical vectors (one vector-keyed hash agg),
    * keeping the min-id survivor and the cluster size. Step 2 runs
    * [[embeddingPairsSlim]] over the survivors at the ORIGINAL banding
    * config. Step 3 restores the duplicate-aware semantics: each survivor
    * pair (a, b) carries `n_pairs = |C_a|·|C_b|` (every replica combination)
    * and each cluster of size > 1 contributes an intra row (keeper, keeper,
    * cos = 1, C(size, 2)). The output multiset of (pair, weight) equals the
    * direct run's pair multiset exactly — pinned by the 10× probe equality
    * and the q_embed_dedup_weighted hash gate.
    */
  def embeddingPairsDeduped(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, dim: Int = 64,
      planes: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    val clusters = df.groupBy(col(vecCol))
      .agg(min(col(idCol)).as("__id"), count(lit(1)).as("__csz"))
    val surv = clusters.select(col("__id").as(idCol), col(vecCol))
    val sa = clusters.select(col("__id").as("id_a"), col("__csz").as("__ca"))
    val sb = clusters.select(col("__id").as("id_b"), col("__csz").as("__cb"))
    val cross = embeddingPairsSlim(surv, vecCol, idCol, threshold, dim, planes, bands, seed)
      .join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"), col("cos"),
        (col("__ca") * col("__cb")).as("n_pairs"))
    // intra rows carry a LITERAL cos = 1.0, guarded (r14 advisor finding,
    // semantics pinned by self-review): the ONE possible zero-norm content
    // (the all-zeros vector) has numeric intra cos 0/0 = NaN, and BOTH
    // engines order NaN above every threshold, so the direct run emits
    // C(sz,2) NaN-cos rows for it — meaningless output the composed form
    // deliberately SUPPRESSES (its cross candidates still ride the LSH path
    // unchanged, NaN and all). So the exact-multiset claim is scoped: it
    // holds over nonzero-norm contents; the zero-norm cluster's intra rows
    // are the one documented, intentional divergence. A threshold > 1
    // config emits no intra rows (the literal can't qualify). Both guards
    // are restated in the dual (embedWeightedSql) and plan-time-cheap.
    val intra = clusters.filter(col("__csz") > 1)
      .filter(G.vectorDot(col(vecCol), col(vecCol)) > 0 && lit(1.0) >= lit(threshold))
      .select(col("__id").as("id_a"), col("__id").as("id_b"), lit(1.0).as("cos"),
        (col("__csz") * (col("__csz") - 1) / 2).cast(org.apache.spark.sql.types.LongType)
          .as("n_pairs"))
    cross.unionByName(intra)
  }
}
