package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication operators for the training-data-pipeline mandate: exact
  * (hash fingerprint groupBy), MinHash signatures + LSH band bucketing,
  * and n-gram Jaccard similarity. The checksum-manifest operator (A7,
  * launch_checksums.py:130-179) lives here too — same shape: hash every
  * record, aggregate per group.
  *
  * Scale notes:
  *  - exact dedup is one shuffle on the fingerprint (a 128-bit hash →
  *    uniform partitioning, no skew);
  *  - MinHash signatures are narrow per-row compute (shingle → md5 →
  *    array_min), so the only shuffle in LSH dedup is the band-bucket
  *    self-join, which groups candidates by band key instead of the
  *    O(n²) all-pairs compare;
  *  - Jaccard on candidate pairs uses set sizes only (array_distinct +
  *    array_intersect), no explode.
  */
object Dedup extends QueryModule {

  /** Canonical text fingerprint: md5 of the trimmed, lowercased body. */
  def fingerprint(c: Column): Column = md5(lower(trim(c)).cast("binary"))

  /** Exact dedup via hash-groupBy (P9 distinct + the dedup mandate):
    * keeper = min id per fingerprint, with duplicate count.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(fingerprint(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"),
           count(lit(1)).as("n_copies"))
      .orderBy("fingerprint")

  /** q134: duplicate-rate dashboard per source — for each source, how
    * many of its documents share an exact fingerprint with ANY corpus
    * document (cross-source duplication counts: a mirror site shows up
    * as one source's rate spiking while its partner's text is the
    * keeper elsewhere). The release-over-release number a dedup
    * pipeline reports next to the q121 histogram.
    *
    * Scale shape: one fingerprint count (the q20 shuffle), re-joined to
    * per-doc rows on the 16-byte key; the rollup is sources-sized.
    */
  def dupRateBySource(documents: DataFrame): DataFrame = {
    val fps = documents.select(col("source"), fingerprint(col("text")).as("fp"))
    val counts = fps.groupBy("fp").agg(count(lit(1)).as("n_copies"))
    fps.join(counts, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .withColumn("dup_rate", round(col("n_dup_docs") / col("n_docs").cast("double"), 4))
      .orderBy("source")
  }

  /** q141: train/test split-leakage audit. Docs split by deterministic
    * hash (test iff md5('split|'||doc_id) starts below hex '2' — an
    * expected 1/8 holdout, reproducible on any cluster/retry/engine like
    * [[CorpusOps.hashSampled]]), then a test doc LEAKS if its exact
    * fingerprint also appears in the train split — the contamination
    * every eval-set builder must rule out before trusting a benchmark.
    *
    * Scale shape: the split is a narrow filter on two branches of one
    * scan (no shuffle to assign membership); the leak check is a
    * left-semi join on the 16-byte fingerprint with the train side
    * reduced to DISTINCT fingerprints first, so the shuffle carries
    * hashes, never text. Rollup is sources-sized.
    */
  def splitLeakage(documents: DataFrame): DataFrame = {
    val tagged = documents.select(col("source"),
      fingerprint(col("text")).as("fp"),
      (md5(concat(lit("split|"), col("doc_id"))) < "2").as("is_test"))
    val train = tagged.filter(!col("is_test"))
    val test = tagged.filter(col("is_test"))
    val leaked = test.join(train.select("fp").distinct(), Seq("fp"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_leaked"))
    train.groupBy("source").agg(count(lit(1)).as("n_train"))
      .join(test.groupBy("source").agg(count(lit(1)).as("n_test")), Seq("source"), "full")
      .join(leaked, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
      .orderBy("source")
  }

  /** q242: NEAR-DUP split-leakage audit — q141 catches exact copies
    * crossing the train/test boundary; this catches the near-duplicates
    * exact fingerprints miss (the reason dedup-aware splitting exists:
    * a test doc whose near-twin sits in train inflates eval). Candidate
    * pairs come from the q65 multi-band LSH surface; each pair is
    * classified by which side of the deterministic hash split its ends
    * landed on. `cross` is the leakage count a release gate would act
    * on.
    *
    * Scale: inherits the banding economics (one scan + one shuffle for
    * candidates); the split flag is derived per doc and joined onto the
    * pair ends by id — two id-keyed joins against a (doc_id, flag)
    * frame, never the texts.
    */
  def nearDupSplitAudit(documents: DataFrame, bands: Int = 4): DataFrame = {
    val pairs = multiBandCandidatePairs(documents, bands)
    val split = documents.select(col("doc_id"),
      (md5(concat(lit("split|"), col("doc_id"))) < "2").as("is_test"))
    pairs
      .join(split.select(col("doc_id").as("left_id"), col("is_test").as("lt")), "left_id")
      .join(split.select(col("doc_id").as("right_id"), col("is_test").as("rt")), "right_id")
      .select(when(col("lt") && col("rt"), "test-test")
        .when(!col("lt") && !col("rt"), "train-train")
        .otherwise("cross").as("pair_type"))
      .groupBy("pair_type").agg(count(lit(1)).as("n_pairs"))
      .orderBy("pair_type")
  }

  /** q144: blocked fuzzy record linkage over the part-name dictionary.
    *
    * The scale shape of record linkage: (1) reduce entities to the
    * DISTINCT-name dictionary first (the fuzzy comparison universe is
    * names, not rows — here 64 names stand for 20k parts; at 100 TB,
    * millions of names for billions of rows), carrying each name's
    * entity count; (2) self-join the dictionary only WITHIN a blocking
    * key (the trailing token), so candidate pairs are Σ block² over
    * dictionary-sized blocks, never |entities|²; (3) keep pairs within
    * `maxDist` edit distance. Multiplicities ride along, so "how many
    * entity pairs does this link cover" is n_a·n_b downstream.
    */
  def fuzzyNameLinkage(part: DataFrame, maxDist: Int = 3): DataFrame = {
    val names = part.groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n_entities"))
      .withColumn("block", element_at(split(col("name"), " "), -1))
    val a = names.select(col("block"), col("name").as("name_a"), col("n_entities").as("n_a"))
    val b = names.select(col("block"), col("name").as("name_b"), col("n_entities").as("n_b"))
    a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b") &&
        levenshtein(col("name_a"), col("name_b")) <= maxDist)
      .select(col("block"), col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("n_a"), col("n_b"))
      .orderBy("block", "name_a", "name_b")
  }

  /** Word k-shingles of the document text (k=3), truncating at the tail
    * like the slice semantics DuckDB shares; ≥1 shingle even for short
    * docs.
    */
  def shingles(c: Column, k: Int = 3, stride: Int = 1): Column = {
    val words = split(c, " ")
    transform(
      sequence(lit(1), greatest(size(words) - (k - 1), lit(1)), lit(stride)),
      i => array_join(slice(words, i, lit(k)), " "))
  }

  /** MinHash signature: per hash function j, min over shingles of
    * md5(salt_j || shingle). Pure narrow compute — signatures for 100 TB
    * of docs cost one scan.
    */
  def minhashSignatures(documents: DataFrame, nHashes: Int = 4,
                        sorted: Boolean = true): DataFrame = {
    // fused tokenize→shingle→min-md5 native expression: equivalent to
    // array_min(transform(shingles(text), s -> md5(salt||s))) but one
    // pass with no intermediate arrays (see functions.TextMinHashMd5)
    val sigCols = (0 until nHashes).map { j =>
      graft.functions.MinHashMd5.textMinhashMd5(col("text"), s"salt$j|").as(s"mh$j")
    }
    val sigs = documents.select((col("doc_id") +: sigCols): _*)
    // sorted=true is the q33 presentation surface only. Internal
    // consumers MUST pass sorted=false: a global sort here costs a
    // range-exchange whose partitioner SAMPLING re-executes the whole
    // md5 scan before the real pass does — measured 3.6 s → 0.6 s on
    // the q94 candidate chain at sf0.1 — and every downstream
    // groupBy/join immediately destroys the ordering anyway.
    if (sorted) sigs.orderBy("doc_id") else sigs
  }

  /** In-bucket pair expansion over a sorted array column: every ordered
    * element pair as `struct(l, r)` — shared by the minhash band
    * generators AND the simhash block banding (NonSqlOps) so the slice
    * arithmetic lives in exactly one place. Elements may be scalars or
    * structs; callers destructure `l`/`r`.
    */
  private[operators] def pairExpansionExpr(arr: String): String =
    s"flatten(transform($arr, (x, i) -> transform(slice($arr, i + 2, size($arr) - i - 1), y -> struct(x as l, y as r))))"

  private[operators] val PairExpansionExpr = pairExpansionExpr("ids")

  /** LSH band bucketing: candidate duplicate pairs = docs sharing a band
    * (here band 0 = mh0). The self-join shuffles on the band key only —
    * this is the scale path that replaces the O(n²) similarity matrix.
    */
  def lshCandidatePairs(documents: DataFrame, sorted: Boolean = true): DataFrame = {
    // Single-pass bucidating: group ids per band key and expand in-bucket
    // pairs with higher-order functions — ONE scan + ONE shuffle, versus
    // a self-join that computes the (md5-heavy) signatures twice and
    // shuffles both sides. At 100 TB the bucket sizes stay small (that's
    // the point of banding), so the per-bucket pair expansion is cheap.
    // Null signatures (null text) are NOT candidates: a null band key
    // never equals anything, matching the oracle's equi-join semantics.
    val sigs = minhashSignatures(documents, nHashes = 1, sorted = false)
      .select(col("doc_id"), col("mh0"))
    val pairs = sigs.filter(col("mh0").isNotNull)
      .groupBy(col("mh0").as("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("band_key"), explode(expr(PairExpansionExpr)).as("pair"))
      .select(col("pair.l").as("left_id"), col("pair.r").as("right_id"), col("band_key"))
    // q35 presentation sort only — internal consumers (q58/q94) regroup
    // or rejoin immediately, so they pass sorted=false and skip the
    // range-exchange + its chain-re-executing sampling pass
    if (sorted) pairs.orderBy("left_id", "right_id") else pairs
  }

  /** Multi-band LSH: the production recall shape — b independent hash
    * bands, a pair is a candidate if it collides in ANY band. Bands are
    * stacked with one explode (band index carried in the group key so
    * collisions never cross bands), so the whole thing is still ONE scan
    * + ONE shuffle; the final distinct dedups pairs that collide in
    * several bands. Recall rises with b at the classic 1-(1-s^r)^b
    * S-curve; [[lshCandidatePairs]] is the b=1 special case.
    */
  def multiBandCandidatePairs(documents: DataFrame, bands: Int = 4): DataFrame = {
    val sigs = minhashSignatures(documents, nHashes = bands, sorted = false)
    val stacked = sigs.select(col("doc_id"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band_idx"), col(s"mh$j").as("band_key"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_key"))
    // null band keys (null text) never collide — equi-join semantics
    stacked.filter(col("band_key").isNotNull)
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(PairExpansionExpr)).as("pair"))
      .select(col("pair.l").as("left_id"), col("pair.r").as("right_id"))
      .distinct()
      .orderBy("left_id", "right_id")
  }

  /** n-gram Jaccard similarity over candidate pairs (here: consecutive
    * doc ids as a deterministic pair generator so the oracle has real
    * values to check). Uses distinct shingle-set sizes only.
    */
  def ngramJaccardPairs(documents: DataFrame): DataFrame = {
    // compute shingles inline on EACH join side. The earlier eager
    // localCheckpoint reuse was measured ~2× faster at spec scale but is
    // a 100 TB scale-killer: it materializes every document's shingle
    // set in executor block storage (cluster-memory/disk cliff) and
    // breaks lineage (executor loss = job failure). Recomputing keeps
    // the plan a pure two-scan equi-join — each side is narrow
    // scan→project work that AQE/spill handle at any scale.
    val withSh = documents.select(col("doc_id"), graft.functions.ShingleSet.shingleSet(col("text")).as("sh"))
    val a = withSh.as("a")
    val b = withSh.as("b")
    a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
      // single evaluation of the intersection: derive every output from
      // the materialized `inter` column instead of repeating the call
      .withColumn("inter", size(array_intersect(col("a.sh"), col("b.sh"))))
      .select(
        col("a.doc_id").as("left_id"),
        col("b.doc_id").as("right_id"),
        col("inter").cast("long").as("n_common"),
        round(col("inter") /
            (size(col("a.sh")) + size(col("b.sh")) - col("inter")).cast("double"),
          4).as("jaccard"))
      .orderBy("left_id")
  }

  /** q94: MinHash accuracy report — for every LSH candidate pair,
    * the sketch's Jaccard ESTIMATE (fraction of agreeing minhash
    * components over `nHashes` independent salts) next to the EXACT
    * shingle Jaccard and the absolute error. This is the calibration
    * query a dedup rollout runs before trusting banding thresholds:
    * the estimate's error distribution tells you how many hashes you
    * need for the similarity band you care about (stderr ≈
    * sqrt(s(1-s)/k)).
    *
    * Scale shape: per-doc features (8-salt signature vector + shingle
    * set) tokenize the shingle array once and hash it per salt; the
    * feature scan is pure narrow work over the whole corpus, and the
    * candidate table broadcasts onto it. (Scoping features to candidate
    * docs by a semi-join measured ~20% slower at sf0.1, where candidates
    * are ~8% of docs: it re-derives the banding chain and serializes the
    * feature scan behind it.) The estimator's
    * salts (`acc0..`) are DISJOINT from the banding salt (`salt0`):
    * candidate pairs agree on the band component by construction, so
    * including it would floor every estimate at 1/k and systematically
    * understate error exactly at the band boundary the calibration
    * exists to measure. The estimate folds over a fixed-length zip
    * (order pinned by construction), and the exact ratio is
    * integers-divided-once.
    */
  def minhashAccuracy(documents: DataFrame, nHashes: Int = 8): DataFrame = {
    val cands = lshCandidatePairs(documents, sorted = false).select("left_id", "right_id")
    // ONE multi-salt fused text→minhash kernel for the whole estimator
    // signature (bit-identical to array(text_minhash_md5(t,"acc0|"), …)
    // but tokenize + shingle-byte construction — the dominant cost —
    // run once, not once per salt), NOT minhash over a shared
    // shingle-array column: CollapseProject would inline the array
    // into every consumer (9 shingle expansions)
    val feats = documents.select(
      col("doc_id"),
      graft.functions.ShingleSet.shingleSet(col("text")).as("sh"),
      graft.functions.MinHashMd5.textMinhashMd5Multi(col("text"),
        (0 until nHashes).map(j => s"acc$j|")).as("sig"))
    // Two per-side joins = two feature scans, kept DELIBERATELY: the
    // single-scan alternative (explode pairs to (pair, side, id) rows,
    // broadcast onto ONE feature scan, regroup by pair) was built and
    // measured ~40% SLOWER at sf0.1 (≈4.0 vs ≈2.7 s, 3 interleaved
    // trials) — the regroup shuffles every matched doc's shingle set +
    // signature (heavy arrays) where the per-side joins broadcast the
    // tiny pair table onto embarrassingly-parallel scans and shuffle
    // nothing. At 100 TB the same logic holds so long as candidates fit
    // a broadcast.
    val report = cands
      .join(feats.select(col("doc_id").as("left_id"),
        col("sh").as("lsh"), col("sig").as("lsig")), "left_id")
      .join(feats.select(col("doc_id").as("right_id"),
        col("sh").as("rsh"), col("sig").as("rsig")), "right_id")
      .withColumn("inter", size(array_intersect(col("lsh"), col("rsh"))))
      .withColumn("est",
        size(filter(zip_with(col("lsig"), col("rsig"), (x, y) => x === y),
          b => b)) / lit(nHashes.toDouble))
      .withColumn("exact", col("inter") /
        (size(col("lsh")) + size(col("rsh")) - col("inter")).cast("double"))
      .select(col("left_id"), col("right_id"),
        round(col("est"), 4).as("est_jaccard"),
        round(col("exact"), 4).as("exact_jaccard"),
        round(abs(col("est") - col("exact")), 4).as("abs_err"))
    // cut before the presentation sort: a global orderBy's range
    // partitioner SAMPLES its child, which would re-execute the whole
    // md5-heavy banding+join chain a second time. The report is
    // candidate-pair-sized (tiny vs the corpus), so materializing it
    // once and sorting the materialized rows halves the query
    // (measured ~3.7 → ~2.1 s at sf0.1); the cut is drained by
    // Checkpoints.release like every other pinned block
    graft.plans.Checkpoints.cut(report).orderBy("left_id", "right_id")
  }

  /** q99: INCREMENTAL dedup — the production ingest shape: a new batch
    * arrives and must be deduped (a) against the already-ingested
    * corpus and (b) within itself, without ever re-scanning corpus
    * text. The existing side reduces to its fingerprint set (in
    * production this is the persisted dedup index, not a scan); batch
    * docs joining an existing fingerprint are `dup_of_corpus`,
    * remaining batch docs sharing a fingerprint keep min-id as keeper
    * (`dup_in_batch` otherwise `new`).
    *
    * Scale shape: the corpus side ships ONLY 128-bit fingerprints
    * (16 B/doc — the index a 100 TB corpus maintains incrementally);
    * the batch (≪ corpus by definition of an increment) shuffles once
    * on the fingerprint for the within-batch window, and the
    * corpus-membership check is a left join on the same key so it
    * shares that shuffle's partitioning. No text column ever moves.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame): DataFrame =
    dedupAgainstIndex(batch,
      corpus.select(fingerprint(col("text")).as("fingerprint")).distinct())

  /** Shared tail of the incremental-dedup family: classify `batch`
    * against an already-reduced corpus fingerprint set (one
    * `fingerprint` column, distinct).
    */
  private def dedupAgainstIndex(batch: DataFrame, corpusFps: DataFrame): DataFrame = {
    val corpusFp = corpusFps.withColumn("in_corpus", lit(true))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fingerprint").orderBy("doc_id")
    batch.select(col("doc_id"), fingerprint(col("text")).as("fingerprint"))
      .join(corpusFp, Seq("fingerprint"), "left")
      .withColumn("keeper_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")))
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), col("fingerprint"),
        when(col("in_corpus"), lit("dup_of_corpus"))
          .when(col("rk") > 1, lit("dup_in_batch"))
          .otherwise(lit("new")).as("verdict"),
        when(col("in_corpus").isNull && col("rk") > 1, col("keeper_id")).as("keeper_id"))
      .orderBy("doc_id")
  }

  /** Persist the corpus's dedup index as a parquet table BUCKETED by
    * fingerprint — the durable artifact a 100 TB incremental-ingest
    * pipeline maintains instead of re-fingerprinting the corpus on every
    * batch (the posture [[incrementalDedup]]'s scaladoc describes).
    * `distinct()` hash-partitions on the fingerprint already; with a
    * matching bucket count each writer task holds exactly one bucket's
    * rows, so the table lands one-file-per-bucket with no extra shuffle.
    */
  def writeDedupIndex(corpus: DataFrame, table: String, buckets: Int = 32): Unit =
    graft.sources.Bucketing.writeBucketed(
      corpus.select(fingerprint(col("text")).as("fingerprint")).distinct(),
      table, "fingerprint", buckets)

  /** [[incrementalDedup]] against a [[writeDedupIndex]]-persisted table:
    * result-identical, but the corpus side is the 16 B/doc index read
    * back bucketed on the join key, so the membership join plans with
    * ZERO Exchange on the corpus side (plan-asserted in spec + q205's
    * plan contract) — only the incoming batch (≪ corpus by definition)
    * shuffles, once, on the fingerprint, and the within-batch window
    * reuses that same clustering.
    */
  def incrementalDedupIndexed(spark: SparkSession, batch: DataFrame,
                              indexTable: String): DataFrame =
    dedupAgainstIndex(batch, spark.table(indexTable))

  /** A7 (launch_checksums.py:130-179): per-record checksum manifest —
    * md5 + sha256 over the payload bytes, computed in one scan with
    * codegen'd hash expressions (the reference forks a multiprocessing
    * pool for this).
    */
  def checksumManifest(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("md5_checksum"),
        sha2(col("text").cast("binary"), 256).as("sha256_checksum"),
        length(col("text")).cast("long").as("size"))
      .orderBy("doc_id")

  /** A7+K7 shape (launch_checksums.py RECS_PER_BLOCK=100): checksum
    * manifest rolled up into delivery blocks — per-block counts and a
    * block digest (min md5), the verification summary the uuid-api POST
    * loop tracks.
    */
  def checksumBlocks(documents: DataFrame, blockSize: Int = 100): DataFrame =
    checksumManifest(documents)
      .withColumn("block", expr(s"doc_id div $blockSize"))
      .groupBy("block")
      .agg(count(lit(1)).as("n_records"),
           min(col("md5_checksum")).as("block_digest"),
           sum(col("size")).as("block_bytes"))
      .orderBy("block")

  /** End-to-end near-duplicate clustering — the full corpus-dedup
    * pipeline at 100 TB scale: LSH band bucketing proposes candidates
    * (one shuffle on the band key), an exact Jaccard check verifies them
    * (join only the candidate pairs against the shingle sets — never
    * all-pairs), then connected components group transitively-linked
    * docs via min-label propagation to fixpoint (each iteration is one
    * shuffled join + aggregate; convergence count doubles as the
    * termination action, and near-dup components have tiny diameters so
    * the loop is short).
    */
  def nearDupClusters(documents: DataFrame, threshold: Double = 0.2,
                      maxIters: Int = 20): DataFrame =
    nearDupLabels(documents, threshold, maxIters)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
           concat_ws(",", sort_array(collect_list(col("id")))).as("members"))
      .orderBy("cluster_id")

  /** The LSH → verify → CC pipeline up to per-document labels (id,
    * label) — shared by the cluster report (q58) and the canonical
    * picker (q92).
    */
  def nearDupLabels(documents: DataFrame, threshold: Double = 0.2,
                    maxIters: Int = 20): DataFrame = {
    // Candidates flow straight into the verify join, uncached.
    // (Measured alternative: deriving the band key from cached shingle
    // arrays via interpreted transform+md5 is ~20% SLOWER cold than the
    // fused native TextMinHashMd5 re-tokenizing — interpreted HOF md5
    // costs more than the second tokenize pass.)
    val cands = lshCandidatePairs(documents, sorted = false)
      .select(col("left_id"), col("right_id"))
    // Shingle sets for the verify join, cached — both join sides read
    // the one InMemoryRelation. (Scoping them to candidate docs by a
    // semi-join measured slower at sf0.1, where candidates are ~8% of
    // docs: it serializes the pipeline behind the LSH stage.)
    val withSh = documents
      .select(col("doc_id"), graft.functions.ShingleSet.shingleSet(col("text")).as("sh"))
      .cache()
    val inter = size(array_intersect(col("a.sh"), col("b.sh")))
    // no distinct: single-band bucketing emits each in-bucket pair once,
    // and duplicate edges would be absorbed by the CC min-agg anyway
    val verified = cands
      .join(withSh.as("a"), col("left_id") === col("a.doc_id"))
      .join(withSh.as("b"), col("right_id") === col("b.doc_id"))
      .filter(inter / (size(col("a.sh")) + size(col("b.sh")) - inter).cast("double")
                >= threshold)
      .select(col("left_id"), col("right_id"))
    val labels = connectedComponents(verified, maxIters)
    // CC's driver loop has run by now, so the shingle cache served its
    // purpose — release it
    withSh.unpersist()
    labels
  }

  /** q227: RIGHT-TO-BE-FORGOTTEN propagation — the governance finisher
    * on top of the near-dup machinery: a deletion request must also
    * remove the requested documents' near-duplicates (a copy that stays
    * IS the data staying), so the forget list propagates through the
    * q58 cluster labels: delete = seeds ∪ every member of a cluster
    * containing a seed. Reported per source: direct deletions,
    * COLLATERAL deletions (near-dups of a seed the requester never
    * named), and survivors — the audit trail a takedown pipeline logs.
    *
    * Scale shape: labels cover only docs in some verified edge
    * (≪ corpus); the propagation is two semi-joins on (cluster, id)
    * int pairs; the rollup is one map-side-combined aggregate over the
    * corpus with the seed/delete flags attached by left joins on
    * doc_id. Nothing cluster-shaped ever shuffles wide rows.
    */
  def forgetPropagation(documents: DataFrame, seedMod: Int = 23,
                        threshold: Double = 0.2): DataFrame = {
    val seeds = documents.select(col("doc_id")).filter(col("doc_id") % seedMod === 0)
    val labels = nearDupLabels(documents, threshold)
      .select(col("id").as("doc_id"), col("label"))
    val seedClusters = labels.join(seeds, Seq("doc_id"), "left_semi")
      .select("label").distinct()
    val clusterDeletes = labels.join(seedClusters, Seq("label"), "left_semi")
      .select("doc_id")
    val deletes = seeds.unionByName(clusterDeletes).distinct()
    documents.select(col("doc_id"), col("source"))
      .join(seeds.withColumn("is_seed", lit(1L)), Seq("doc_id"), "left")
      .join(deletes.withColumn("del", lit(1L)), Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_seed"), lit(0L))).as("n_seeds"),
        sum(when(col("del") === 1 && col("is_seed").isNull, 1L).otherwise(0L))
          .as("n_collateral"),
        sum(when(col("del").isNull, 1L).otherwise(0L)).as("n_surviving"))
      .orderBy("source")
  }

  /** q92: the dedup FINISHER — near-dup clusters from [[nearDupLabels]]
    * reduced to one surviving document each: the canonical is the
    * longest member (n_chars DESC, doc_id tie-break — "keep the most
    * complete copy"), everything else is listed as dropped. This is the
    * step that turns a cluster report into an actual corpus shrink:
    * anti-join `dropped` against the corpus downstream.
    *
    * Scale shape: labels cover only documents that appear in some
    * verified edge (≪ corpus); the n_chars lookup is an equi-join on
    * doc_id, the canonical pick is a per-cluster rank window over
    * narrow triples, and near-dup components are tiny (the CC
    * warm-start argument), so no window partition is ever hot.
    */
  def nearDupCanonical(documents: DataFrame, threshold: Double = 0.2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))
    nearDupLabels(documents, threshold)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .join(documents.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(max(when(col("rk") === 1, col("doc_id"))).as("canonical_id"),
           count(lit(1)).as("n_members"),
           concat_ws(",", sort_array(collect_list(
             when(col("rk") > 1, col("doc_id"))))).as("dropped"))
      .orderBy("cluster_id")
  }

  /** Connected components over an undirected pair list (left_id,
    * right_id) of LongType ids: returns (id, label) for every node that
    * appears in some edge, where label is the min id of its component.
    *
    * One loop with a driver finish. The FRONTIER is what the next
    * round's neighbour-min join reads: the symmetric edge rows out of
    * every node whose current label its neighbours have not seen yet,
    * i.e. Σ deg over those nodes. Before any round (identity labels)
    * that is every edge row. Once the frontier fits under
    * `autoBroadcastJoinThreshold / 16` rows (16 bytes a row: the bytes a
    * broadcast join would collect to the driver anyway), the loop
    * collects it contracted to (label, label) pairs and finishes with a
    * min-root union-find on the driver: the hybrid finish of Kiveris et
    * al., "Connected Components in MapReduce and Beyond" (SoCC 2014).
    * A graph under the bound from the start costs one cut and one
    * collect and comes back as a local frame. A larger graph runs
    * min-label rounds (change frontier + pointer jump, below) until
    * the frontier fits, then hands over. A threshold ≤ 0 hands over
    * only at an empty frontier, i.e. runs the rounds to their fixpoint.
    * `maxIters` caps the distributed rounds.
    *
    * Measured negative (reports workload, 6 fresh-JVM pairs on a 4-core
    * host): fusing neighbour-min and the pointer jump into one cut per
    * round, with the change count read from `observe`, cut `exec.jobs`
    * 83 → 70 but moved `wall_s` 5.21 → 5.30 s and q296 2,558 → 2,574 ms
    * (2 of 6 pairs won): the fused plan's driver-side planning grew by
    * as much as the jobs saved. The driver finish removes the rounds
    * instead: `wall_s` 5.05 → 4.16 s (medians, 18 of 20 alternating
    * pairs won), q296's construction 1,908 → 943 ms traced.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    import graft.plans.Checkpoints
    // the driver's Long order must be Spark's order for "min id" to agree
    require(pairs.schema.fields.forall(_.dataType == LongType),
      s"connectedComponents takes LongType ids, got ${pairs.schema.simpleString}")
    val spark = pairs.sparkSession
    val bound = math.max(spark.sessionState.conf.autoBroadcastJoinThreshold / 16, 0L)
    val edges = pairs.toDF("src", "dst")
    val (sym, symRows) = Checkpoints.cutMeasured(
      edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))),
      count(lit(1)))
    // labels: (id, label, deg), null while every label is its own id;
    // delta: (id, label) of the nodes whose label the neighbours have
    // not read; frontier = Σ deg over delta
    var labels: DataFrame = null
    var delta: DataFrame = null
    var frontier = symRows.getLong(0)
    if (frontier > bound) {
      // warm start at the 1-hop fixpoint candidate — min over
      // self+neighbors (every node appears as dst in the symmetric
      // list), which already IS the answer for pair-shaped components.
      // Every node is still in the frontier: its neighbours have not
      // read the new label.
      labels = Checkpoints.cut(
        sym.groupBy(col("dst").as("id"))
          .agg(min(col("src")).as("m"), count(lit(1)).as("deg"))
          .select(col("id"), least(col("id"), col("m")).as("label"), col("deg")))
      delta = labels.select("id", "label")
    }
    // Every round LINEAGE-CUTS its frames (Checkpoints.cut), not just
    // cache(): a round references the previous labels twice, so an
    // uncut plan TREE doubles per round — on a long-chain component the
    // 2^rounds tree OOMed the driver while merely stringifying the plan.
    // The cut makes round r's plan O(1); a superseded round's cuts are
    // dropped as soon as the next round is materialized.
    var i = 0
    while (frontier > bound && i < maxIters) {
      // CHANGE FRONTIER: only a node whose label just improved can
      // improve a neighbor, so the neighbor-min join reads the DELTA
      // rows, not the full label map (monotone-min induction: a node
      // that changed in round k is read by its neighbors in round k+1;
      // pointer-jump improvements re-enter the frontier like any other
      // change). AQE sees delta's true size at the join's shuffle and
      // flips it to broadcast once the frontier is small.
      val fromNeighbors = sym.join(delta, sym("src") === delta("id"))
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("nlabel"))
      // carry the old label through so the change is measured against
      // the SAME materialized frame the next round reads
      val prop = Checkpoints.cut(
        labels.withColumnRenamed("label", "old")
          .join(fromNeighbors, Seq("id"), "left")
          .select(col("id"), col("old"),
                  least(col("old"), coalesce(col("nlabel"), col("old"))).as("label"),
                  col("deg")))
      // POINTER JUMP (path halving): label ← min(label, label(label)).
      // Neighbor-min alone moves a label one hop per round, so rounds =
      // component DIAMETER (q296's DBSCAN core graph at sf0.1 has
      // diameter > 20, and the capped loop once returned an UNDER-
      // MERGED labeling). The jump gives O(log diameter) rounds. A label
      // is always the id of a node in the same component, so
      // label-of-label stays in-component and the fixpoint is unchanged.
      val parents = prop.select(col("id").as("pid"), col("label").as("plabel"))
      // the next frontier's size rides the cut's own job; it is 0
      // exactly when no label changed (every node has deg ≥ 1), so it
      // is also the convergence signal
      val (next, stats) = Checkpoints.cutMeasured(
        prop.join(parents, prop("label") === parents("pid"), "left")
          .select(prop("id"), prop("old"),
            least(prop("label"), coalesce(col("plabel"), prop("label"))).as("label"),
            prop("deg")),
        coalesce(sum(when(col("label") =!= col("old"), col("deg"))), lit(0L)))
      Checkpoints.drop(labels)
      Checkpoints.drop(prop)
      labels = next.select("id", "label", "deg")
      delta = next.filter(col("label") =!= col("old")).select("id", "label")
      frontier = stats.getLong(0)
      i += 1
    }
    if (frontier > bound) {
      System.err.println(
        s"[graft] connectedComponents stopped at maxIters=$maxIters before convergence")
      Checkpoints.drop(sym)
      return labels.select("id", "label")
    }
    // HAND-OVER. Invariant: every edge whose two labels differ has its
    // smaller-label endpoint in delta. (A node outside delta had its
    // label read by all its neighbours in an earlier round, and labels
    // only fall, so no neighbour's label is above it.) The contracted
    // frontier — (label(dst), label(src)) over src ∈ delta, labels
    // unequal — therefore carries every merge still outstanding, and
    // its union-find roots are min ids of components: the min id m of
    // a component always has label m. Before any round, delta is every
    // node and the pairs are the edges themselves (self-loops kept, so
    // every node gets a root).
    val contracted =
      if (labels == null) sym.filter(col("src") <= col("dst"))
      else sym.join(delta.select(col("id").as("src"), col("label").as("ls")), "src")
        .join(labels.select(col("id").as("dst"), col("label").as("ld")), "dst")
        .filter(col("ls") =!= col("ld"))
        .select("ld", "ls").distinct()
    val roots = minRoots(
      if (frontier == 0L) Iterator.empty
      else contracted.collect().iterator.map(r => (r.getLong(0), r.getLong(1))))
    Checkpoints.drop(sym)
    if (labels == null) spark.createDataFrame(roots.toSeq).toDF("id", "label")
    else {
      val moved = roots.toSeq.filter { case (l, r) => l != r }
      if (moved.isEmpty) labels.select("id", "label")
      else {
        val rootOf = spark.createDataFrame(moved).toDF("from", "root")
        labels.join(broadcast(rootOf), col("label") === col("from"), "left")
          .select(col("id"), coalesce(col("root"), col("label")).as("label"))
      }
    }
  }

  /** Min-root union-find over driver-side pairs: node → the min id of
    * its component, for every node of some pair. */
  private def minRoots(pairs: Iterator[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.foreach(x => parent(x) = find(x))
    parent
  }

  /** Chunk-level cross-document dedup (the scalable variant of
    * substring dedup, Lee et al. 2021 "Deduplicating Training Data
    * Makes Language Models Better"): overlapping fixed-width word
    * chunks (window `chunkWords`, step `stride`), hashed and grouped —
    * a chunk seen more than once is duplicated text, and `keeper_doc`
    * (lowest id) marks which copy survives a removal pass. Shape at
    * scale: chunk expansion is narrow per-row work; the ONLY shuffle is
    * the groupBy on a 128-bit chunk hash (uniform by construction).
    *
    * stride trades cost for recall: stride > 1 only detects duplication
    * whose word offsets are congruent mod stride across copies (a
    * misaligned verbatim span produces disjoint chunk sets), so the
    * default is full-recall stride 1 — raise it only for cheap triage.
    */
  /** q121: chunk-duplication histogram — the size distribution of
    * chunk-hash clusters (how much of the corpus is 1×, 2×, n×
    * duplicated at the q73 chunk granularity). THE dedup dashboard
    * number: the tail of this histogram is the boilerplate mass, and
    * its drift release-over-release is the crawl-health alarm.
    *
    * Scale shape: two map-side-combined groupBys (hash → cluster size
    * → histogram); output is at most max-cluster-size rows.
    */
  def chunkDupHistogram(documents: DataFrame, chunkWords: Int = 6, stride: Int = 1): DataFrame =
    chunkHashes(documents, chunkWords, stride)
      .groupBy("chunk_hash").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_chunks", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")

  def chunkDedup(documents: DataFrame, chunkWords: Int = 6, stride: Int = 1): DataFrame =
    chunkHashes(documents, chunkWords, stride)
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_occurrences"),
           countDistinct(col("doc_id")).as("n_docs"),
           min(col("doc_id")).as("keeper_doc"))
      .filter(col("n_occurrences") > 1)
      .orderBy("chunk_hash")

  /** Per-doc chunk hashes — shared by [[chunkDedup]] and
    * [[decontaminate]]; built on the same windowing as [[shingles]] so
    * the truncated-tail / at-least-one-window edge arithmetic lives in
    * ONE place.
    */
  private def chunkHashes(docs: DataFrame, chunkWords: Int, stride: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.ShingleSet.shingleWindows(
          col("text"), chunkWords, stride)).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))

  /** Benchmark decontamination (the eval-leak gate every serious
    * training pipeline runs — e.g. GPT-3 §C, PaLM §7): flag corpus
    * documents sharing any `chunkWords`-gram chunk with a benchmark
    * set. Both sides reduce to chunk hashes; the benchmark side is
    * distinct-ed and (being an eval set, small relative to the corpus)
    * broadcast — the corpus never shuffles. Returns one row per
    * contaminated doc with the overlap count; the removal pass is an
    * anti-join on these ids.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    chunkWords: Int = 6, stride: Int = 1): DataFrame = {
    // benchmark items SHORTER than the window hash to a single truncated
    // chunk that no full-width corpus window can equal — the classic
    // silent hole for short QA answer keys. Handle them by also sliding
    // corpus windows at each short benchmark length (at most
    // chunkWords-1 distinct widths; the driver-side collect is bounded
    // by that constant, not by data).
    //
    // All widths ride in ONE corpus pass: full width-w windows carry
    // exactly w−1 separator spaces, so they are string-partitioned by
    // width (see [[graft.functions.ShingleSet.shingleWindowsExact]])
    // and a single explode over the unioned width set joins identically
    // to per-width passes — truncated windows, which never space-count-
    // match any same-width bench chunk, are dropped rather than
    // re-scanned per width. 3 scans total (bounded width collect +
    // bench + corpus) independent of how many widths the benchmark
    // spans; at 100 TB the corpus pass is the only one that matters
    // and it stays at exactly one.
    val cappedLen = least(size(split(col("text"), " ")), lit(chunkWords))
    val benchLens = benchmark.select(cappedLen.as("len"))
      .distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq
    if (benchLens.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("n_contaminated_chunks"))
        .limit(0)
    // per-width gate on the bench side (a long doc must NOT contribute
    // short windows — only docs whose capped length IS that width do),
    // all widths in one projection
    val benchChunks = benchmark
      .select(explode(flatten(array(benchLens.map(len =>
        when(cappedLen === len,
          graft.functions.ShingleSet.shingleWindowsExact(col("text"), len, stride))
          .otherwise(typedLit(Seq.empty[String]))): _*))).as("chunk"))
      .select(md5(col("chunk")).as("chunk_hash")).distinct()
    val corpusChunks = corpus
      .select(col("doc_id"),
        explode(flatten(array(benchLens.map(len =>
          graft.functions.ShingleSet.shingleWindowsExact(col("text"), len, stride)): _*)))
          .as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))
    corpusChunks.join(broadcast(benchChunks), "chunk_hash")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated_chunks"))
      .orderBy("doc_id")
  }

  /** q155: train→test n-gram novelty — the inverse of [[decontaminate]]:
    * per held-out doc, what fraction of its `k`-gram windows never
    * occur anywhere in the training split. Low novelty = the test set
    * is largely memorizable from train; the per-doc rate is the
    * doc-level selection signal (keep the novel ones).
    *
    * Scale shape: the train gram set is CORPUS-sized, so no broadcast —
    * test grams anti-join train grams on the 128-bit hash, ONE shuffle
    * keyed by gram hash carrying (hash, doc_id) pairs only; the per-doc
    * rollup rides the test side's own (tiny) key space.
    */
  def ngramNovelty(documents: DataFrame, k: Int = 4): DataFrame = {
    val grams = chunkHashes(documents, k, 1)
    val test = grams.filter(col("doc_id") % 11 === 0)
    val train = grams.filter(col("doc_id") % 11 =!= 0).select("chunk_hash").distinct()
    val novel = test.join(train, Seq("chunk_hash"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    test.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_rate", round(col("n_novel") / col("n_grams"), 4))
      .orderBy("doc_id")
  }

  /** q156: duplication SPAN coverage — not how many chunks repeat
    * (q73/q121) but how much of each document's token span is covered
    * by chunks that also occur in some other document: overlapping
    * shared-window intervals [off, off+k) are merged per doc (the
    * gaps-and-islands pattern) and the union length is reported as a
    * coverage rate. This is the per-doc "how much of me is boilerplate/
    * copy" metric that drives span-level (vs doc-level) dedup decisions.
    *
    * Scale shape: ONE corpus scan — "chunk occurs in more than one doc"
    * is `min(doc_id) ≠ max(doc_id)` over a chunk-keyed window, so
    * shared-chunk detection is a single shuffle on the chunk hash with
    * no groupBy+join-back (which would explode the grams twice); the
    * interval merge is a per-doc window bounded by the doc's own window
    * count, never corpus-wide. Exact integer arithmetic end to end.
    */
  def dedupSpanCoverage(documents: DataFrame, k: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        posexplode(graft.functions.ShingleSet.shingleWindows(col("text"), k)))
      .select(col("doc_id"), col("n_tokens"), col("pos").cast("long").as("off"),
        md5(col("col")).as("ch"))
    val byChunk = Window.partitionBy("ch")
    val hits = h
      .withColumn("d0", min("doc_id").over(byChunk))
      .withColumn("d1", max("doc_id").over(byChunk))
      .filter(col("d0") =!= col("d1"))
      .select(col("doc_id"), col("n_tokens"), col("off"),
        least(col("off") + k, col("n_tokens")).as("end"))
    val w = Window.partitionBy("doc_id").orderBy("off")
    val prevEnd = max(col("end")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = hits
      .withColumn("ni", when(prevEnd.isNull || col("off") > prevEnd, 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(w))
      .groupBy("doc_id", "n_tokens", "island")
      .agg((max("end") - min("off")).as("covered"))
    islands.groupBy("doc_id", "n_tokens")
      .agg(sum("covered").as("covered_tokens"))
      .withColumn("coverage", round(col("covered_tokens") / col("n_tokens"), 4))
      .orderBy("doc_id")
  }

  /** q158: sorted-adjacent prefix duplicates — the lightweight cousin of
    * suffix-array dedup (Lee et al. 2022 sort the corpus and compare
    * neighbors; so does this, for prefixes): docs sharing their first
    * `prefixLen` characters land adjacent under a lexicographic sort,
    * so ONE window pass emits every consecutive pair. Because equal
    * `prefixLen`-prefixes imply an equal `bucketLen`-prefix, the sort
    * is partitioned by the short bucket key — no global sort, no
    * recall loss, and a chain of m prefix-equal docs reports exactly
    * m−1 pairs (pairs, not the quadratic clique).
    */
  def prefixNearDupPairs(documents: DataFrame, prefixLen: Int = 50,
                         bucketLen: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = documents.select(col("doc_id"),
      substring(col("text"), 1, bucketLen).as("bucket"),
      substring(col("text"), 1, prefixLen).as("p"))
    val w = Window.partitionBy("bucket").orderBy(col("p"), col("doc_id"))
    s.select(col("doc_id"), col("p"),
        lag(col("doc_id"), 1).over(w).as("prev_id"),
        lag(col("p"), 1).over(w).as("prev_p"))
      .filter(col("prev_p") === col("p") && length(col("p")) === prefixLen)
      .select(col("prev_id").as("doc_a"), col("doc_id").as("doc_b"),
        col("p").as("shared_prefix"))
      .orderBy("doc_a", "doc_b")
  }

  /** q274: TRUNCATION-DUPLICATE pairs — documents whose ENTIRE text is
    * a strict prefix of a longer document (the cut-off re-crawl /
    * partial-write dup that exact-hash dedup misses because the hashes
    * differ and MinHash may miss because the length gap dilutes
    * Jaccard). Exact by construction: candidates block on the first
    * `bucketLen` chars — any strict-prefix pair whose short side has
    * ≥ bucketLen chars MUST share that key (a theorem, not a
    * heuristic) — then verify with a codegen'd startsWith. Docs
    * shorter than the block key can't use it (their key is their whole
    * text, the long side's key is longer); they take a broadcast
    * fallback against the corpus — bounded, because sub-16-char docs
    * are vanishingly rare in any length-filtered corpus (and the main
    * path never pays for them).
    *
    * Scale: one equi-shuffle on the 16-char head; per-bucket fan-out is
    * the head-collision count, and verification cost is one prefix
    * compare per candidate. The naive oracle (no block) certifies the
    * blocking theorem the same way q216 certifies PPJoin.
    */
  def truncationDupPairs(documents: DataFrame, bucketLen: Int = 16): DataFrame = {
    val n = documents.select(col("doc_id"), col("text"),
      length(col("text")).cast("long").as("len"))
    val long = n.filter(col("len") >= bucketLen)
      .withColumn("bucket", substring(col("text"), 1, bucketLen))
    val blocked = long
      .select(col("doc_id").as("trunc_id"), col("text").as("ta"),
        col("len").as("trunc_len"), col("bucket"))
      .join(long.select(col("doc_id").as("full_id"), col("text").as("tb"),
        col("len").as("full_len"), col("bucket")), Seq("bucket"))
      .filter(col("trunc_len") < col("full_len") && col("tb").startsWith(col("ta")))
    val short = n.filter(col("len") < bucketLen)
      .select(col("doc_id").as("trunc_id"), col("text").as("ta"),
        col("len").as("trunc_len"))
    val shortPairs = n
      .select(col("doc_id").as("full_id"), col("text").as("tb"),
        col("len").as("full_len"))
      .join(broadcast(short),
        col("trunc_len") < col("full_len") && col("tb").startsWith(col("ta")))
    blocked.select("trunc_id", "full_id", "trunc_len", "full_len")
      .unionByName(shortPairs.select("trunc_id", "full_id", "trunc_len", "full_len"))
      .withColumn("kept_ppm", expr("trunc_len * 1000000 div full_len"))
      .orderBy("trunc_id", "full_id")
  }

  /** q216: EXACT all-pairs τ-Jaccard join over shingle sets via PPJoin
    * prefix filtering (Xiao et al., WWW'08) — the deterministic
    * complement to the LSH family (q35/q65): zero false negatives by
    * THEOREM, not by banding probability. Two sets with Jaccard ≥ τ
    * must share a token within each one's first |d|−⌈τ|d|⌉+1 tokens
    * under ANY single global token order; ordering by ascending global
    * frequency makes those prefix tokens the RAREST ones, so candidate
    * buckets stay tiny even on corpora where every doc shares the
    * common vocabulary.
    *
    * Scale anatomy (the three shuffles that replace an impossible
    * O(n²)): (1) shingle-frequency count, map-side combined;
    * (2) the prefix-token equi-join — per-bucket fan-out is bounded by
    * the rarity ordering (at sf0.1: 119 K candidates from 12.5 G
    * possible pairs, a 10⁵× prune); (3) candidate-scoped verify — the
    * full shingle arrays ship ONLY for docs that appear in some
    * candidate pair (left-semi prune first), never the whole corpus.
    * τ is carried as the integer test 9·|∩| ≥ 4·(|a|+|b|), so the
    * accept decision is engine-exact.
    */
  /** q326: BLOCKING-QUALITY audit — the calibration capstone of the
    * dedup ladder: q94 scores the minhash ESTIMATOR, this scores the
    * BLOCKING. For each multi-band configuration b ∈ {1, 2, 4}, the LSH
    * candidate set (q65's banding) is graded against the EXACT τ=0.8
    * Jaccard pairs (q216's PPJoin — zero false negatives by theorem,
    * so it IS ground truth): pair completeness (recall — what fraction
    * of true near-dup pairs the blocking surfaces), candidate
    * precision at τ, and the reduction ratio vs all n(n−1)/2 pairs —
    * the three numbers an entity-resolution/dedup rollout quotes
    * before trusting a blocking scheme (Christen 2012). The expected
    * S-curve (recall rises with b, precision falls) is what the spec
    * pins.
    *
    * Scale: truth and candidates reuse the production operators
    * unchanged (prefix-filtered verify; one banding shuffle per
    * config); the audit adds only pair-keyed semi-joins on (int, int)
    * frames and bounded counts. The reduction-ratio product rides
    * decimal(38,0) — n(n−1)/2 squares past int64 at corpus scale.
    */
  def blockingQuality(documents: DataFrame,
                      bandCounts: Seq[Int] = Seq(1, 2, 4),
                      truthPairs: Option[DataFrame] = None): DataFrame = {
    // truthPairs, when supplied, is the [[sharedPpjoinTruth]] artifact
    // (already materialized — no cut needed); the inline build remains
    // for spec fixtures
    val truth = truthPairs.map(_.select("left_id", "right_id")).getOrElse(
      graft.plans.Checkpoints.cut(
        ppjoinExact(documents).select("left_id", "right_id")))
    val nDocs = documents.agg(count(lit(1)).as("nd"))
    // ONE signature pass: the b-band salts are a prefix of the max-band
    // salts, so every config's candidate set is a band_idx < b filter of
    // the same stacked (doc, band, key) frame — computing signatures per
    // config tripled the text-hashing work (measured ~10 s → ~6 s)
    val maxBands = bandCounts.max
    val stacked = graft.plans.Checkpoints.cut(
      minhashSignatures(documents, nHashes = maxBands, sorted = false)
        .select(col("doc_id"),
          explode(array((0 until maxBands).map(j =>
            struct(lit(j).as("band_idx"), col(s"mh$j").as("band_key"))): _*)).as("b"))
        .select(col("doc_id"), col("b.band_idx"), col("b.band_key"))
        .filter(col("band_key").isNotNull))
    val rows = bandCounts.map { b =>
      val cand = graft.plans.Checkpoints.cut(
        stacked.filter(col("band_idx") < b)
          .groupBy(col("band_idx"), col("band_key"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")) > 1)
          .select(explode(expr(PairExpansionExpr)).as("pair"))
          .select(col("pair.l").as("left_id"), col("pair.r").as("right_id"))
          .distinct())
      val caught = cand.join(truth, Seq("left_id", "right_id"), "left_semi")
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true")))
        .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
        .select(lit(b).as("bands"), col("n_candidates"), col("n_true"),
          col("n_caught"))
    }
    rows.reduce(_ unionAll _).crossJoin(broadcast(nDocs))
      .select(col("bands"), col("n_candidates"), col("n_true"), col("n_caught"),
        when(col("n_true") > 0,
          expr("n_caught * 1000000 div n_true")).as("recall_ppm"),
        when(col("n_candidates") > 0,
          expr("n_caught * 1000000 div n_candidates")).as("precision_ppm"),
        // the × 10⁹ must happen in DECIMAL: `div 2` yields a LONG, and
        // long(n(n−1)/2) × 10⁹ wraps past n ≈ 136k docs — the r11 30×
        // sweep threw ARITHMETIC_OVERFLOW exactly there (sf1's 51k docs
        // still fit, the derivative-defect class again)
        when(col("nd") > 1,
          expr("""cast(cast(cast(nd as decimal(38,0)) * (nd - 1) div 2 - n_candidates
                       as decimal(38,0))
                * 1000000000 div (cast(nd as decimal(38,0)) * (nd - 1) div 2)
                as bigint)""")).as("reduction_ppb"))
      .orderBy("bands")
  }

  val PpjoinTruthTable = "graft_ppjoin_truth"

  /** The exact τ=0.8 PPJoin pair set as a shared bucketed artifact
    * ([[graft.sources.Bucketing.shared]], like
    * [[GraphOps.sharedEdges]]/[[GraphOps.sharedLpLabels]]) for the dedup
    * ladder (r14 optimization, VERDICT item 5): q216 REPORTS this frame
    * and q326 CALIBRATES against it, and both used to pay the full
    * prefix-filtered verify (~5 s each at sf0.1 — the two largest
    * non-graph bench entries). Built once per corpus CONTENT, keyed on
    * the documents.parquet listing fingerprint, so a regenerated corpus
    * rebuilds and an unchanged one reuses; on a cluster the truth set is
    * written once per corpus version, which is also how an
    * entity-resolution rollout actually maintains its ground-truth pairs.
    */
  def sharedPpjoinTruth(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Bucketing.shared(spark,
        PpjoinTruthTable + "_" + Tables.fingerprint(spark, s"$dir/documents.parquet"),
        "left_id", 8) {
      ppjoinExact(Tables(spark, dir).documents)
    }

  def ppjoinExact(documents: DataFrame): DataFrame = {
    val sh = documents.select(col("doc_id"),
      graft.functions.ShingleSet.shingleSet(col("text")).as("shs"))
    val toks = sh.select(col("doc_id"), explode(col("shs")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("f"))
    val d = toks.join(freq, "tok").groupBy("doc_id").agg(
      expr("transform(sort_array(collect_list(struct(f, tok))), s -> s.tok)").as("toks"),
      count(lit(1)).as("sz"))
    val pre = d.select(col("doc_id"),
      explode(expr("slice(toks, 1, cast(sz - (4 * sz + 4) div 5 + 1 as int))")).as("tok"))
    // NOTE (r13 optimization round): the repeated d/pre/cands subtrees
    // below LOOK like 5x recompute in the initial plan (~20 scans), but
    // AQE stage reuse deduplicates the identical exchanges at runtime —
    // lineage-cutting d and/or cands was A/B-measured SLOWER at sf0.1
    // (5.1 -> 7.8 s with both cuts; 5.1 -> 5.7 with cands only) because
    // the eager localCheckpoint of token-array rows costs more than the
    // reuse saves. Left uncut on purpose.
    val cands = pre.as("a").join(pre.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("left_id"), col("b.doc_id").as("right_id")).distinct()
    val inCand = cands.select(col("left_id").as("doc_id"))
      .unionAll(cands.select(col("right_id").as("doc_id"))).distinct()
    val dv = d.join(inCand, Seq("doc_id"), "left_semi")
    cands
      .join(dv.select(col("doc_id").as("left_id"), col("toks").as("ta"), col("sz").as("sa")),
        "left_id")
      .join(dv.select(col("doc_id").as("right_id"), col("toks").as("tb"), col("sz").as("sb")),
        "right_id")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(expr("9 * inter >= 4 * (sa + sb)"))
      .select(col("left_id"), col("right_id"), col("inter").as("n_common"),
        round(expr("inter / cast(sa + sb - inter as double)"), 4).as("jaccard"))
      .orderBy("left_id", "right_id")
  }

  /** q220: CONTENT-DEFINED chunking (the rsync/LBFS boundary trick) +
    * per-source chunk-dedup stats — the edit-robust complement to
    * [[chunkDedup]]'s fixed windows: a chunk boundary falls wherever
    * the rolling 3-word window's hash lands in 2 of 16 hex cells
    * (expected chunk ≈ 8 words), so INSERTING a word reshuffles only
    * the chunks around the edit while fixed-stride chunking shifts
    * every downstream window and loses all alignment. The boundary
    * test is a raw hex-digit membership (last md5 nibble ∈ {0,8}) —
    * no numeric conversion, engine-identical by string compare.
    *
    * Scale shape: one scan → per-DOC windows (lag + running boundary
    * sum, partitioned by doc_id — bounded by document length, never a
    * global sort), one shuffle to assemble chunks, map-side-combined
    * stats. The corpus-wide state is the (source, counters) frame.
    */
  def cdcChunkStats(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = documents.select(col("doc_id"), col("source"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val wnd = Window.partitionBy("doc_id").orderBy("pos")
    val withBnd = words
      .withColumn("w1", lag("word", 1).over(wnd))
      .withColumn("w2", lag("word", 2).over(wnd))
      .withColumn("bnd", when(col("pos") === 0, 1L)
        .when(col("w2").isNotNull &&
          substring(md5(concat_ws(" ", col("w2"), col("w1"), col("word"))), 32, 1)
            .isin("0", "8"), 1L)
        .otherwise(0L))
      .withColumn("chunk", sum("bnd").over(wnd))
    val chunks = withBnd.groupBy(col("doc_id"), col("source"), col("chunk"))
      .agg(md5(expr(
          "array_join(transform(sort_array(collect_list(struct(pos, word))), s -> s.word), ' ')"))
        .as("h"),
        count(lit(1)).as("n_words"))
    chunks.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("n_distinct"),
        sum("n_words").as("nw"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        (col("n_chunks") - col("n_distinct")).as("n_dup_chunks"),
        round(expr("cast(n_chunks - n_distinct as double) / n_chunks"), 4).as("dup_ratio"),
        round(expr("cast(nw as double) / n_chunks"), 2).as("avg_chunk_words"))
      .orderBy("source")
  }

  /** q286: DATA-DRIVEN LSH band planner — pick the (bands, rows) split
    * of a 64-hash signature that minimizes expected miss/false-candidate
    * cost ON THIS CORPUS, instead of hardcoding (b, r) per folklore.
    * The S-curve P(candidate | m matching hashes) = 1 − (1 − (m/64)^r)^b
    * is evaluated once at plan-build time into parts-per-billion INTEGER
    * constants embedded in both engines (the q162 Benford device — no
    * runtime pow/libm, so no cross-engine float drift); the corpus
    * enters through the match-count histogram of a systematic 1/8 pair
    * sample. Cost = 10·Σ_dup w·(1−P) + Σ_nondup w·P with the duplicate
    * threshold at m ≥ 45 (m/64 ≥ 0.7); all products are exact int64.
    *
    * Scale: the signature pass is ONE fused multi-salt text scan over
    * the sample; the quadratic lives only inside the sampled subset
    * (n·f² pairs — at 100 TB you shrink f, not the machinery), and the
    * planner itself joins a 65-row histogram to a 455-row constant
    * table. The chosen (b, r) then feeds multiBandCandidatePairs (q65).
    */
  def bandPlanner(documents: DataFrame, nHashes: Int = 64, sampleMod: Int = 8,
                  tauBin: Int = 45, fnCostX: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val salts = (0 until nHashes).map(j => s"bp$j|")
    // cut once: the signature frame feeds BOTH sides of the pair join —
    // without the cut the 64-salt md5 pass runs twice (stream + broadcast)
    val sel = graft.plans.Checkpoints.cut(documents
      .filter(pmod(col("doc_id"), lit(sampleMod)) === 0)
      .select(col("doc_id"),
        graft.functions.MinHashMd5.textMinhashMd5Multi(col("text"), salts).as("sig")))
    val pairs = sel.as("a").join(broadcast(sel.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .select(graft.functions.SigMatchCount
        .sigMatchCount(col("a.sig"), col("b.sig")).as("m"))
    val wt = pairs.groupBy("m").agg(count(lit(1)).as("w"))
    val cdf = bandPlannerConstants(nHashes).toDF("m", "b", "r", "p_ppb")
    wt.join(broadcast(cdf), "m")
      .groupBy("b", "r")
      .agg(
        sum(when(col("m") >= tauBin,
          col("w") * (lit(1000000000L) - col("p_ppb"))).otherwise(0L)).as("fn_w_ppb"),
        sum(when(col("m") < tauBin,
          col("w") * col("p_ppb")).otherwise(0L)).as("fp_w_ppb"))
      .withColumn("cost10", lit(fnCostX.toLong) * col("fn_w_ppb") + col("fp_w_ppb"))
      .withColumn("chosen", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cost10"), col("r").desc, col("b"))) === 1)
      .select("b", "r", "fn_w_ppb", "fp_w_ppb", "cost10", "chosen")
      .orderBy("b")
  }

  /** The S-curve constant table (m, b, r, ⌊P·10⁹⌉) shared verbatim by
    * the Spark plan and the DuckDB oracle — computed ONCE here, so both
    * engines aggregate identical integers. */
  private[operators] def bandPlannerConstants(nHashes: Int): Seq[(Int, Int, Int, Long)] =
    for {
      r <- Seq(1, 2, 4, 8, 16, 32, 64) if nHashes % r == 0
      b = nHashes / r
      m <- 0 to nHashes
    } yield {
      val p = 1.0 - math.pow(1.0 - math.pow(m.toDouble / nHashes, r), b)
      (m, b, r, math.floor(p * 1e9 + 0.5).toLong)
    }

  /** q302: maximal shared-passage extraction — seed-and-extend exact
    * substring dedup in the spirit of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"): where q73/q156 score
    * duplication through fixed or winnowed chunks, this recovers the
    * MAXIMAL shared token runs themselves, with positions — the
    * artifact a curation team actually inspects (and splices out)
    * before retraining.
    *
    * Seeds are word 5-grams; two documents sharing a run of L tokens
    * share L−4 consecutive 5-grams at a CONSTANT position offset, so
    * matched seed positions grouped by (pair, offset) and run through
    * the gaps-and-islands key pa − row_number() reassemble every
    * maximal run exactly — no pairwise text comparison ever happens.
    *
    * Scale: the seed join is capped by the rare-gram filter (global
    * frequency ≤ maxFreq, the same trick the paper uses to skip
    * boilerplate) so fanout per gram is ≤ maxFreq²; everything after
    * runs on matched-seed pairs, and the final top-N compiles to
    * TakeOrderedAndProject — no global sort materializes.
    */
  def sharedPassages(documents: DataFrame, gram: Int = 5, maxFreq: Long = 8,
                     minSpan: Int = 8, topN: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.plans.Scans.fanOut(documents)
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .filter(size(col("tk")) >= gram)
    val grams = toks.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, size(tk) - $gram), s -> concat_ws(' ', slice(tk, s + 1, $gram)))"))
        .as(Seq("p", "g")))
    // cnt >= 2 on top of the rarity cap: a gram seen ONCE cannot form a
    // cross-document pair (the self-join below needs two distinct docs),
    // and on a mostly-novel corpus singletons are the bulk of the gram
    // table — dropping them before the exchange shrinks the self-join
    // input to just the duplicated rare grams (guide §2.3: shuffle fewer
    // bytes). Result-identical by construction.
    val rare = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") <= maxFreq && col("cnt") >= 2).select("g")
    // gr is consumed by both arms of the self-join, but AQE stage reuse
    // already deduplicates the identical subtrees at runtime — an eager
    // cut here A/B-measured SLOWER (2.4 s filter-only vs 3.4 s with the
    // cut at sf0.1), so the frame stays lazy
    val gr = grams.join(rare, "g")
    val m = gr.alias("a").join(gr.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"),
        col("a.p").as("pa"), col("b.p").as("pb"), (col("a.p") - col("b.p")).as("offn"))
    val w = Window.partitionBy("ida", "idb", "offn").orderBy("pa")
    m.withColumn("grp", col("pa") - row_number().over(w))
      .groupBy("ida", "idb", "offn", "grp")
      .agg(min(col("pa").cast("long")).as("start_a"),
        min(col("pb").cast("long")).as("start_b"),
        (count(lit(1)) + lit(gram - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
      .select("ida", "idb", "start_a", "start_b", "span_tokens")
      .orderBy(col("span_tokens").desc, col("ida"), col("idb"),
        col("start_a"), col("start_b"))
      .limit(topN)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q326_blocking_quality" -> ((s, d) => blockingQuality(Tables(s, d).documents,
      truthPairs = Some(sharedPpjoinTruth(s, d)))),
    "q302_shared_passages" -> ((s, d) => sharedPassages(Tables(s, d).documents)),
    "q286_band_plan" -> ((s, d) => bandPlanner(Tables(s, d).documents)),
    "q58_neardup_clusters" -> ((s, d) => nearDupClusters(Tables(s, d).documents)),
    "q92_neardup_canonical" -> ((s, d) => nearDupCanonical(Tables(s, d).documents)),
    "q47_checksum_blocks" -> ((s, d) => checksumBlocks(Tables(s, d).documents)),
    "q20_dedup_exact"    -> ((s, d) => exactDedup(Tables(s, d).documents)),
    "q24_checksum_manifest" -> ((s, d) => checksumManifest(Tables(s, d).documents)),
    "q33_minhash_signatures" -> ((s, d) => minhashSignatures(graft.plans.Scans.fanOut(Tables(s, d).documents))),
    "q34_ngram_jaccard"  -> ((s, d) => ngramJaccardPairs(Tables(s, d).documents)),
    "q35_lsh_candidates" -> ((s, d) => lshCandidatePairs(Tables(s, d).documents)),
    "q65_multiband_lsh"  -> ((s, d) => multiBandCandidatePairs(Tables(s, d).documents)),
    "q94_minhash_accuracy" -> ((s, d) => minhashAccuracy(graft.plans.Scans.fanOut(Tables(s, d).documents))),
    "q73_chunk_dedup"    -> ((s, d) => chunkDedup(Tables(s, d).documents)),
    "q121_chunk_histogram" -> ((s, d) => chunkDupHistogram(Tables(s, d).documents)),
    "q134_dup_rate"      -> ((s, d) => dupRateBySource(Tables(s, d).documents)),
    "q141_split_leakage" -> ((s, d) => splitLeakage(Tables(s, d).documents)),
    "q242_neardup_split_audit" -> ((s, d) => nearDupSplitAudit(Tables(s, d).documents)),
    "q144_fuzzy_linkage" -> ((s, d) => fuzzyNameLinkage(Tables(s, d).part)),
    "q155_ngram_novelty" -> ((s, d) => ngramNovelty(Tables(s, d).documents)),
    "q156_span_coverage" -> ((s, d) => dedupSpanCoverage(graft.plans.Scans.fanOut(Tables(s, d).documents))),
    "q158_prefix_pairs"  -> ((s, d) => prefixNearDupPairs(Tables(s, d).documents)),
    // q216 reads the shared truth artifact back and re-applies the
    // contract ordering — ONE PPJoin evaluation per (process, corpus)
    // serves both q216 and q326 (whichever runs first pays the build)
    "q216_ppjoin_exact"  -> ((s, d) => sharedPpjoinTruth(s, d)
      .orderBy("left_id", "right_id")),
    "q274_truncation_dups" -> ((s, d) => truncationDupPairs(Tables(s, d).documents)),
    "q220_cdc_chunks"    -> ((s, d) => cdcChunkStats(Tables(s, d).documents)),
    "q227_forget_propagation" -> ((s, d) => forgetPropagation(Tables(s, d).documents)),
    "q75_decontaminate"  -> ((s, d) => {
      val docs = Tables(s, d).documents
      decontaminate(corpus = docs.filter(col("doc_id") % 11 =!= 0),
        benchmark = docs.filter(col("doc_id") % 11 === 0), chunkWords = 4)
    }),
    // the corpus has no byte-exact duplicates, so the batch plants the
    // three verdict classes deterministically: fresh docs (id % 5 = 0),
    // re-submissions of corpus docs under new ids (+100000 — the retry/
    // re-crawl case), and in-batch copies of fresh docs (+200000)
    "q99_incremental_dedup" -> ((s, d) => {
      val docs = Tables(s, d).documents.select(col("doc_id"), col("text"))
      val fresh = docs.filter(col("doc_id") % 5 === 0)
      val resub = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 1)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val copies = fresh.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      incrementalDedup(batch = fresh.unionByName(resub).unionByName(copies),
        corpus = docs.filter(col("doc_id") % 5 =!= 0))
    }),
    // q99 through the PERSISTED index: write the corpus fingerprint set
    // once as a fingerprint-bucketed table, then classify the same
    // batch against it — result-identical to q99 (shared oracle shape),
    // but the corpus side reads back co-located on the join key with
    // zero Exchange (the incremental-ingest posture at 100 TB: the
    // index is maintained, the corpus is never re-fingerprinted)
    "q205_indexed_dedup" -> ((s, d) => {
      val docs = Tables(s, d).documents.select(col("doc_id"), col("text"))
      val fresh = docs.filter(col("doc_id") % 5 === 0)
      val resub = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 1)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val copies = fresh.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      writeDedupIndex(docs.filter(col("doc_id") % 5 =!= 0), "graft_dedup_index")
      incrementalDedupIndexed(s, fresh.unionByName(resub).unionByName(copies),
        "graft_dedup_index")
    }),
  )

  /** q286 oracle: the same sampled-pair histogram × the same embedded
    * ppb constant table (generated from [[bandPlannerConstants]], so the
    * integers are identical by construction). */
  private def bandPlannerSql(nHashes: Int, sampleMod: Int, tauBin: Int,
                             fnCostX: Int): String = {
    val saltLines = (0 until nHashes).map(j =>
      s"list_aggregate(list_transform(ws, s -> md5('bp$j|' || s)), 'min')")
      .mkString(",\n          ")
    val constValues = bandPlannerConstants(nHashes)
      .map { case (m, b, r, p) => s"($m, $b, $r, ${p}::BIGINT)" }.mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
       |                 i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')) AS ws
       |  FROM documents WHERE doc_id % $sampleMod = 0),
       |sigs AS (SELECT doc_id,
       |         [$saltLines] AS sig
       |         FROM w),
       |pairs AS (
       |  SELECT len(list_filter(range(1, ${nHashes + 1}), i -> sa.sig[i] = sb.sig[i])) AS m
       |  FROM sigs sa JOIN sigs sb ON sa.doc_id < sb.doc_id),
       |wt AS (SELECT m, count(*)::BIGINT AS w FROM pairs GROUP BY m),
       |consts(m, b, r, p_ppb) AS (VALUES $constValues),
       |agg AS (
       |  SELECT b, r,
       |         sum(CASE WHEN c.m >= $tauBin THEN wt.w * (1000000000 - c.p_ppb) ELSE 0 END)::BIGINT AS fn_w_ppb,
       |         sum(CASE WHEN c.m < $tauBin THEN wt.w * c.p_ppb ELSE 0 END)::BIGINT AS fp_w_ppb
       |  FROM wt JOIN consts c ON wt.m = c.m GROUP BY b, r),
       |fin AS (SELECT b, r, fn_w_ppb, fp_w_ppb,
       |               $fnCostX * fn_w_ppb + fp_w_ppb AS cost10 FROM agg)
       |SELECT b, r, fn_w_ppb, fp_w_ppb, cost10,
       |       (row_number() OVER (ORDER BY cost10, r DESC, b) = 1) AS chosen
       |FROM fin ORDER BY b""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    "q286_band_plan" -> bandPlannerSql(64, 8, 45, 10),
    // deliberately UNBLOCKED all-pairs form: a green row certifies the
    // 16-char head-block used by the Spark side loses no pair
    "q274_truncation_dups" ->
      """WITH d AS (SELECT doc_id, text, length(text)::BIGINT AS len FROM documents)
        |SELECT a.doc_id AS trunc_id, b.doc_id AS full_id,
        |       a.len AS trunc_len, b.len AS full_len,
        |       a.len * 1000000 // b.len AS kept_ppm
        |FROM d a JOIN d b ON a.len < b.len AND starts_with(b.text, a.text)
        |ORDER BY trunc_id, full_id""".stripMargin,
    "q58_neardup_clusters" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                 i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id, list_aggregate(list_transform(
        |      list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                     i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')),
        |      s -> md5('salt0|' || s)), 'min') AS mh0
        |  FROM documents),
        |cand AS (SELECT a.doc_id AS l, b.doc_id AS r
        |         FROM sigs a JOIN sigs b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id),
        |ver AS (
        |  SELECT l, r FROM cand
        |  JOIN sh a ON a.doc_id = l JOIN sh b ON b.doc_id = r
        |  WHERE len(list_intersect(a.s, b.s)) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.2),
        |edges AS (SELECT l AS src, r AS dst FROM ver UNION SELECT r, l FROM ver),
        |reach(src, node) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        |  UNION
        |  SELECT rc.src, e.dst FROM reach rc JOIN edges e ON rc.node = e.src
        |),
        |comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src)
        |SELECT cluster_id, count(*) AS n_members,
        |       string_agg(doc_id, ',' ORDER BY doc_id) AS members
        |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // same 5-way split as the Spark wiring; fingerprint parity with
    // q20's oracle (md5 over lower/trim UTF-8 bytes)
    "q99_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT md5(lower(trim(text))) AS fingerprint
        |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id % 30 = 0),
        |b AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM batch),
        |j AS (
        |  SELECT b.doc_id, b.fingerprint,
        |         corpus.fingerprint IS NOT NULL AS in_corpus,
        |         min(b.doc_id) OVER (PARTITION BY b.fingerprint) AS keeper,
        |         row_number() OVER (PARTITION BY b.fingerprint ORDER BY b.doc_id) AS rk
        |  FROM b LEFT JOIN corpus USING (fingerprint))
        |SELECT doc_id, fingerprint,
        |       CASE WHEN in_corpus THEN 'dup_of_corpus'
        |            WHEN rk > 1 THEN 'dup_in_batch'
        |            ELSE 'new' END AS verdict,
        |       CASE WHEN NOT in_corpus AND rk > 1 THEN keeper END AS keeper_id
        |FROM j ORDER BY doc_id""".stripMargin,
    // identical classification semantics to q99 — the index persistence
    // is a Spark-side physical concern the oracle can't see
    "q205_indexed_dedup" ->
      """WITH corpus AS (
        |  SELECT md5(lower(trim(text))) AS fingerprint
        |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id % 30 = 0),
        |b AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM batch),
        |j AS (
        |  SELECT b.doc_id, b.fingerprint,
        |         corpus.fingerprint IS NOT NULL AS in_corpus,
        |         min(b.doc_id) OVER (PARTITION BY b.fingerprint) AS keeper,
        |         row_number() OVER (PARTITION BY b.fingerprint ORDER BY b.doc_id) AS rk
        |  FROM b LEFT JOIN corpus USING (fingerprint))
        |SELECT doc_id, fingerprint,
        |       CASE WHEN in_corpus THEN 'dup_of_corpus'
        |            WHEN rk > 1 THEN 'dup_in_batch'
        |            ELSE 'new' END AS verdict,
        |       CASE WHEN NOT in_corpus AND rk > 1 THEN keeper END AS keeper_id
        |FROM j ORDER BY doc_id""".stripMargin,
    // est is an exact multiple of 1/8 and exact is integers-divided-
    // once, so abs(est-exact) is bit-identical on both engines before
    // the output rounding
    "q94_minhash_accuracy" ->
      """WITH w AS (
        |  SELECT doc_id, list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                 i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')) AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(ws) AS s FROM w),
        |sigs AS (
        |  SELECT doc_id,
        |         [list_aggregate(list_transform(ws, s -> md5('acc0|' || s)), 'min'),
        |          list_aggregate(list_transform(ws, s -> md5('acc1|' || s)), 'min'),
        |          list_aggregate(list_transform(ws, s -> md5('acc2|' || s)), 'min'),
        |          list_aggregate(list_transform(ws, s -> md5('acc3|' || s)), 'min'),
        |          list_aggregate(list_transform(ws, s -> md5('acc4|' || s)), 'min'),
        |          list_aggregate(list_transform(ws, s -> md5('acc5|' || s)), 'min'),
        |          list_aggregate(list_transform(ws, s -> md5('acc6|' || s)), 'min'),
        |          list_aggregate(list_transform(ws, s -> md5('acc7|' || s)), 'min')] AS sig
        |  FROM w),
        |band AS (
        |  SELECT doc_id, list_aggregate(list_transform(ws, s -> md5('salt0|' || s)), 'min') AS mh0
        |  FROM w),
        |cand AS (SELECT a.doc_id AS l, b.doc_id AS r
        |         FROM band a JOIN band b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id),
        |m AS (
        |  SELECT l, r,
        |         len(list_filter(range(1, 9), i -> sa.sig[i] = sb.sig[i])) / 8.0 AS est,
        |         len(list_intersect(ha.s, hb.s)) /
        |           CAST(len(ha.s) + len(hb.s) - len(list_intersect(ha.s, hb.s)) AS DOUBLE) AS exact
        |  FROM cand
        |  JOIN sigs sa ON sa.doc_id = l JOIN sigs sb ON sb.doc_id = r
        |  JOIN sh ha ON ha.doc_id = l JOIN sh hb ON hb.doc_id = r)
        |SELECT l AS left_id, r AS right_id,
        |       round(est, 4) AS est_jaccard,
        |       round(exact, 4) AS exact_jaccard,
        |       round(abs(est - exact), 4) AS abs_err
        |FROM m ORDER BY left_id, right_id""".stripMargin,
    // q58's component CTE + the canonical rank (n_chars DESC, doc_id)
    "q92_neardup_canonical" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                 i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id, list_aggregate(list_transform(
        |      list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                     i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')),
        |      s -> md5('salt0|' || s)), 'min') AS mh0
        |  FROM documents),
        |cand AS (SELECT a.doc_id AS l, b.doc_id AS r
        |         FROM sigs a JOIN sigs b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id),
        |ver AS (
        |  SELECT l, r FROM cand
        |  JOIN sh a ON a.doc_id = l JOIN sh b ON b.doc_id = r
        |  WHERE len(list_intersect(a.s, b.s)) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.2),
        |edges AS (SELECT l AS src, r AS dst FROM ver UNION SELECT r, l FROM ver),
        |reach(src, node) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        |  UNION
        |  SELECT rc.src, e.dst FROM reach rc JOIN edges e ON rc.node = e.src
        |),
        |comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src),
        |j AS (
        |  SELECT c.cluster_id, c.doc_id, d.n_chars,
        |         row_number() OVER (PARTITION BY c.cluster_id
        |                            ORDER BY d.n_chars DESC, c.doc_id) AS rk
        |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
        |SELECT cluster_id,
        |       max(doc_id) FILTER (rk = 1) AS canonical_id,
        |       count(*) AS n_members,
        |       string_agg(doc_id, ',' ORDER BY doc_id) FILTER (rk > 1) AS dropped
        |FROM j GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "q47_checksum_blocks" ->
      """SELECT doc_id // 100 AS block, count(*) AS n_records,
                min(md5(text)) AS block_digest,
                CAST(sum(length(text)) AS BIGINT) AS block_bytes
         FROM documents GROUP BY 1 ORDER BY block""",
    "q20_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS fingerprint, min(doc_id) AS keeper_id,
                count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY fingerprint""",
    "q144_fuzzy_linkage" ->
      """WITH names AS (SELECT p_name AS name, count(*)::BIGINT AS n_entities,
                               split_part(p_name, ' ', -1) AS block
                        FROM part GROUP BY p_name)
         SELECT a.block, a.name AS name_a, b.name AS name_b,
                CAST(levenshtein(a.name, b.name) AS INT) AS dist,
                a.n_entities AS n_a, b.n_entities AS n_b
         FROM names a JOIN names b ON a.block = b.block AND a.name < b.name
         WHERE levenshtein(a.name, b.name) <= 3
         ORDER BY a.block, name_a, name_b""",
    "q242_neardup_split_audit" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')) AS s
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id,
        |    list_aggregate(list_transform(s, x -> md5('salt0|' || x)), 'min') AS mh0,
        |    list_aggregate(list_transform(s, x -> md5('salt1|' || x)), 'min') AS mh1,
        |    list_aggregate(list_transform(s, x -> md5('salt2|' || x)), 'min') AS mh2,
        |    list_aggregate(list_transform(s, x -> md5('salt3|' || x)), 'min') AS mh3
        |  FROM sh),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
        |  FROM sigs a JOIN sigs b
        |    ON a.doc_id < b.doc_id
        |   AND (a.mh0 = b.mh0 OR a.mh1 = b.mh1 OR a.mh2 = b.mh2 OR a.mh3 = b.mh3)),
        |split AS (SELECT doc_id, md5('split|' || doc_id) < '2' AS is_test FROM documents),
        |typed AS (
        |  SELECT CASE WHEN l.is_test AND r.is_test THEN 'test-test'
        |              WHEN NOT l.is_test AND NOT r.is_test THEN 'train-train'
        |              ELSE 'cross' END AS pair_type
        |  FROM pairs p JOIN split l ON p.left_id = l.doc_id
        |               JOIN split r ON p.right_id = r.doc_id)
        |SELECT pair_type, count(*)::BIGINT AS n_pairs
        |FROM typed GROUP BY pair_type ORDER BY pair_type""".stripMargin,
    "q141_split_leakage" ->
      """WITH tagged AS (SELECT source, md5(lower(trim(text))) AS fp,
                                md5('split|' || doc_id) < '2' AS is_test
                         FROM documents),
              tr AS (SELECT source, count(*)::BIGINT AS n_train FROM tagged WHERE NOT is_test GROUP BY 1),
              te AS (SELECT source, count(*)::BIGINT AS n_test FROM tagged WHERE is_test GROUP BY 1),
              lk AS (SELECT source, count(*)::BIGINT AS n_leaked FROM tagged t
                     WHERE is_test AND EXISTS (SELECT 1 FROM tagged x WHERE NOT x.is_test AND x.fp = t.fp)
                     GROUP BY 1)
         SELECT source,
                coalesce(n_train, 0) AS n_train, coalesce(n_test, 0) AS n_test,
                coalesce(n_leaked, 0) AS n_leaked
         FROM tr FULL JOIN te USING (source) LEFT JOIN lk USING (source)
         ORDER BY source""",
    "q134_dup_rate" ->
      """WITH f AS (SELECT source, md5(lower(trim(text))) AS fp FROM documents),
        |c AS (SELECT fp, count(*)::BIGINT AS n_copies FROM f GROUP BY 1)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       coalesce(sum(CASE WHEN n_copies > 1 THEN 1 END), 0)::BIGINT AS n_dup_docs,
        |       round(coalesce(sum(CASE WHEN n_copies > 1 THEN 1 END), 0)
        |             / count(*)::DOUBLE, 4) AS dup_rate
        |FROM f JOIN c USING (fp) GROUP BY source ORDER BY source""".stripMargin,
    "q24_checksum_manifest" ->
      """SELECT doc_id, md5(text) AS md5_checksum, sha256(text) AS sha256_checksum,
                CAST(length(text) AS BIGINT) AS size
         FROM documents ORDER BY doc_id""",
    "q33_minhash_signatures" ->
      """SELECT doc_id,
             list_aggregate(list_transform(sh, s -> md5('salt0|' || s)), 'min') AS mh0,
             list_aggregate(list_transform(sh, s -> md5('salt1|' || s)), 'min') AS mh1,
             list_aggregate(list_transform(sh, s -> md5('salt2|' || s)), 'min') AS mh2,
             list_aggregate(list_transform(sh, s -> md5('salt3|' || s)), 'min') AS mh3
         FROM (SELECT doc_id,
                 list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                                i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')) AS sh
               FROM documents) ORDER BY doc_id""",
    // q58's cluster chain + the seed set, rolled up per source
    "q227_forget_propagation" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                 i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id, list_aggregate(list_transform(
        |      list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                     i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')),
        |      s -> md5('salt0|' || s)), 'min') AS mh0
        |  FROM documents),
        |cand AS (SELECT a.doc_id AS l, b.doc_id AS r
        |         FROM sigs a JOIN sigs b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id),
        |ver AS (
        |  SELECT l, r FROM cand
        |  JOIN sh a ON a.doc_id = l JOIN sh b ON b.doc_id = r
        |  WHERE len(list_intersect(a.s, b.s)) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.2),
        |edges AS (SELECT l AS src, r AS dst FROM ver UNION SELECT r, l FROM ver),
        |reach(src, node) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        |  UNION
        |  SELECT rc.src, e.dst FROM reach rc JOIN edges e ON rc.node = e.src
        |),
        |comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src),
        |seedc AS (SELECT DISTINCT cluster_id FROM comp WHERE doc_id % 23 = 0),
        |cdel AS (SELECT doc_id FROM comp WHERE cluster_id IN (SELECT cluster_id FROM seedc)),
        |del AS (SELECT doc_id FROM documents WHERE doc_id % 23 = 0
        |        UNION SELECT doc_id FROM cdel)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_seeds,
        |       sum(CASE WHEN doc_id IN (SELECT doc_id FROM del) AND doc_id % 23 <> 0
        |                THEN 1 ELSE 0 END)::BIGINT AS n_collateral,
        |       sum(CASE WHEN doc_id NOT IN (SELECT doc_id FROM del)
        |                THEN 1 ELSE 0 END)::BIGINT AS n_surviving
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q220_cdc_chunks" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, source, i - 1 AS pos, ws[i] AS word,
        |        CASE WHEN i = 1 THEN 1
        |             WHEN i >= 3 AND substr(md5(ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]), 32, 1)
        |                             IN ('0', '8') THEN 1
        |             ELSE 0 END AS bnd
        |      FROM (SELECT doc_id, source, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)),
        |c AS (SELECT doc_id, source, pos, word,
        |        sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS chunk
        |      FROM t),
        |ch AS (SELECT doc_id, source, chunk,
        |         md5(string_agg(word, ' ' ORDER BY pos)) AS h, count(*)::BIGINT AS n_words
        |       FROM c GROUP BY 1, 2, 3),
        |agg AS (SELECT source, count(*)::BIGINT AS n_chunks,
        |          count(DISTINCT h)::BIGINT AS n_distinct, sum(n_words)::BIGINT AS nw
        |        FROM ch GROUP BY 1)
        |SELECT source, n_chunks, n_distinct, n_chunks - n_distinct AS n_dup_chunks,
        |       round((n_chunks - n_distinct)::DOUBLE / n_chunks, 4) AS dup_ratio,
        |       round(nw::DOUBLE / n_chunks, 2) AS avg_chunk_words
        |FROM agg ORDER BY source""".stripMargin,
    // deliberately the NAIVE all-pairs form: the oracle checks the
    // SEMANTICS (every pair with Jaccard >= 4/5), so a green row proves
    // the prefix filter loses nothing — the exactness theorem, tested.
    // truth = the q216 distinct-shingle τ=0.8 pairs; candidates = the
    // q65 md5-string minhash bands; metrics are integer ppm/ppb divisions
    "q326_blocking_quality" ->
      """WITH raw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
        |                       i -> array_to_string(ws[i:i+2], ' ')) AS s
        |      FROM raw),
        |sigs AS MATERIALIZED (SELECT doc_id,
        |    list_aggregate(list_transform(s, x -> md5('salt0|' || x)), 'min') AS mh0,
        |    list_aggregate(list_transform(s, x -> md5('salt1|' || x)), 'min') AS mh1,
        |    list_aggregate(list_transform(s, x -> md5('salt2|' || x)), 'min') AS mh2,
        |    list_aggregate(list_transform(s, x -> md5('salt3|' || x)), 'min') AS mh3
        |  FROM g),
        |shd AS MATERIALIZED (SELECT doc_id, list_distinct(s) AS s FROM g),
        |truth AS MATERIALIZED (
        |  SELECT a.doc_id AS left_id, b.doc_id AS right_id
        |  FROM shd a JOIN shd b ON a.doc_id < b.doc_id
        |  WHERE 9 * len(list_intersect(a.s, b.s)) >= 4 * (len(a.s) + len(b.s))),
        |cand1 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS l, b.doc_id AS r
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND a.mh0 = b.mh0),
        |cand2 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS l, b.doc_id AS r
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |   AND (a.mh0 = b.mh0 OR a.mh1 = b.mh1)),
        |cand4 AS MATERIALIZED (SELECT DISTINCT a.doc_id AS l, b.doc_id AS r
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |   AND (a.mh0 = b.mh0 OR a.mh1 = b.mh1 OR a.mh2 = b.mh2 OR a.mh3 = b.mh3)),
        |nd AS (SELECT count(*)::BIGINT AS n FROM documents),
        |m AS (
        |  SELECT 1 AS bands,
        |         (SELECT count(*) FROM cand1)::BIGINT AS n_candidates,
        |         (SELECT count(*) FROM truth)::BIGINT AS n_true,
        |         (SELECT count(*) FROM cand1 c JOIN truth t
        |          ON c.l = t.left_id AND c.r = t.right_id)::BIGINT AS n_caught
        |  UNION ALL
        |  SELECT 2, (SELECT count(*) FROM cand2)::BIGINT,
        |         (SELECT count(*) FROM truth)::BIGINT,
        |         (SELECT count(*) FROM cand2 c JOIN truth t
        |          ON c.l = t.left_id AND c.r = t.right_id)::BIGINT
        |  UNION ALL
        |  SELECT 4, (SELECT count(*) FROM cand4)::BIGINT,
        |         (SELECT count(*) FROM truth)::BIGINT,
        |         (SELECT count(*) FROM cand4 c JOIN truth t
        |          ON c.l = t.left_id AND c.r = t.right_id)::BIGINT)
        |SELECT bands, n_candidates, n_true, n_caught,
        |  CASE WHEN n_true > 0
        |       THEN (n_caught * 1000000 // n_true)::BIGINT END AS recall_ppm,
        |  CASE WHEN n_candidates > 0
        |       THEN (n_caught * 1000000 // n_candidates)::BIGINT END AS precision_ppm,
        |  CASE WHEN n > 1 THEN
        |    ((n::HUGEINT * (n - 1) // 2 - n_candidates) * 1000000000
        |      // (n::HUGEINT * (n - 1) // 2))::BIGINT END AS reduction_ppb
        |FROM m, nd ORDER BY bands""".stripMargin,
    "q216_ppjoin_exact" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                  i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
        |  FROM documents),
        |p AS (SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |             len(list_intersect(a.s, b.s))::BIGINT AS n_common,
        |             len(a.s)::BIGINT AS sa, len(b.s)::BIGINT AS sb
        |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT left_id, right_id, n_common,
        |       round(n_common / CAST(sa + sb - n_common AS DOUBLE), 4) AS jaccard
        |FROM p WHERE 9 * n_common >= 4 * (sa + sb)
        |ORDER BY left_id, right_id""".stripMargin,
    "q34_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                           i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
           FROM documents)
         SELECT a.doc_id AS left_id, b.doc_id AS right_id,
                CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common,
                round(len(list_intersect(a.s, b.s)) /
                      CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE), 4) AS jaccard
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         ORDER BY left_id""",
    "q65_multiband_lsh" ->
      """WITH sh AS (
           SELECT doc_id,
             list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                            i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')) AS s
           FROM documents),
         sigs AS (
           SELECT doc_id,
             list_aggregate(list_transform(s, x -> md5('salt0|' || x)), 'min') AS mh0,
             list_aggregate(list_transform(s, x -> md5('salt1|' || x)), 'min') AS mh1,
             list_aggregate(list_transform(s, x -> md5('salt2|' || x)), 'min') AS mh2,
             list_aggregate(list_transform(s, x -> md5('salt3|' || x)), 'min') AS mh3
           FROM sh)
         SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         FROM sigs a JOIN sigs b
           ON a.doc_id < b.doc_id
          AND (a.mh0 = b.mh0 OR a.mh1 = b.mh1 OR a.mh2 = b.mh2 OR a.mh3 = b.mh3)
         ORDER BY left_id, right_id""",
    "q35_lsh_candidates" ->
      """WITH sigs AS (
           SELECT doc_id,
             list_aggregate(list_transform(
               list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                              i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')),
               s -> md5('salt0|' || s)), 'min') AS mh0
           FROM documents)
         SELECT a.doc_id AS left_id, b.doc_id AS right_id, a.mh0 AS band_key
         FROM sigs a JOIN sigs b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id
         ORDER BY left_id, right_id""",
    // the q73 chunk form, two integer groupBys
    "q121_chunk_histogram" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |chunks AS (
        |  SELECT doc_id, unnest(range(0, greatest(len(ws) - 6 + 1, 1), 1)) AS off, ws FROM w),
        |h AS (
        |  SELECT doc_id, md5(array_to_string(ws[off+1:off+6], ' ')) AS chunk_hash FROM chunks),
        |cl AS (SELECT chunk_hash, count(*)::BIGINT AS cluster_size FROM h GROUP BY 1)
        |SELECT cluster_size, count(*)::BIGINT AS n_clusters,
        |       (cluster_size * count(*))::BIGINT AS n_chunks
        |FROM cl GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "q73_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |chunks AS (
        |  SELECT doc_id, unnest(range(0, greatest(len(ws) - 6 + 1, 1), 1)) AS off, ws FROM w),
        |h AS (
        |  SELECT doc_id, md5(array_to_string(ws[off+1:off+6], ' ')) AS chunk_hash FROM chunks)
        |SELECT chunk_hash, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper_doc
        |FROM h GROUP BY chunk_hash HAVING count(*) > 1
        |ORDER BY chunk_hash""".stripMargin,
    "q155_ngram_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, unnest(range(0, greatest(len(ws) - 4 + 1, 1), 1)) AS o, ws FROM w),
        |h AS (SELECT doc_id, md5(array_to_string(ws[o+1:o+4], ' ')) AS ch FROM c),
        |tr AS (SELECT DISTINCT ch FROM h WHERE doc_id % 11 <> 0),
        |te AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM h WHERE doc_id % 11 = 0 GROUP BY 1),
        |nv AS (SELECT doc_id, count(*)::BIGINT AS n_novel FROM h
        |       WHERE doc_id % 11 = 0 AND ch NOT IN (SELECT ch FROM tr) GROUP BY 1)
        |SELECT doc_id, n_grams, coalesce(n_novel, 0) AS n_novel,
        |       round(coalesce(n_novel, 0) / n_grams::DOUBLE, 4) AS novelty_rate
        |FROM te LEFT JOIN nv USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q156_span_coverage" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |             unnest(range(0, greatest(len(ws) - 4 + 1, 1), 1)) AS o, ws FROM w),
        |h AS (SELECT doc_id, n_tokens, CAST(o AS BIGINT) AS o,
        |             least(o + 4, n_tokens) AS e,
        |             md5(array_to_string(ws[o+1:o+4], ' ')) AS ch FROM c),
        |g AS (SELECT ch FROM h GROUP BY ch HAVING count(DISTINCT doc_id) > 1),
        |hits AS (SELECT doc_id, n_tokens, o, e FROM h JOIN g USING (ch)),
        |fl AS (SELECT doc_id, n_tokens, o, e,
        |        CASE WHEN max(e) OVER pw IS NULL OR o > max(e) OVER pw THEN 1 ELSE 0 END AS ni
        |       FROM hits
        |       WINDOW pw AS (PARTITION BY doc_id ORDER BY o
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |isl AS (SELECT doc_id, n_tokens, o, e,
        |               sum(ni) OVER (PARTITION BY doc_id ORDER BY o) AS island FROM fl),
        |per AS (SELECT doc_id, n_tokens, island, max(e) - min(o) AS covered
        |        FROM isl GROUP BY 1, 2, 3)
        |SELECT doc_id, n_tokens, CAST(sum(covered) AS BIGINT) AS covered_tokens,
        |       round(sum(covered) / n_tokens::DOUBLE, 4) AS coverage
        |FROM per GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,
    "q158_prefix_pairs" ->
      """WITH s AS (SELECT doc_id, substring(text, 1, 50) AS p FROM documents),
        |l AS (SELECT doc_id, p,
        |             lag(doc_id) OVER pw AS prev_id, lag(p) OVER pw AS prev_p
        |      FROM s WINDOW pw AS (PARTITION BY substring(p, 1, 16) ORDER BY p, doc_id))
        |SELECT prev_id AS doc_a, doc_id AS doc_b, p AS shared_prefix
        |FROM l WHERE prev_p = p AND length(p) = 50 ORDER BY doc_a, doc_b""".stripMargin,
    "q302_shared_passages" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
        |              WHERE len(string_split(lower(text), ' ')) >= 5),
        |grams AS (SELECT doc_id, s AS p, array_to_string(tk[s+1 : s+5], ' ') AS g
        |          FROM toks, unnest(range(len(tk) - 4)) t(s)),
        |rare AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 8),
        |m AS (SELECT a.doc_id AS ida, b.doc_id AS idb, a.p AS pa, b.p AS pb,
        |             a.p - b.p AS offn
        |      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |      WHERE a.g IN (SELECT g FROM rare)),
        |runs AS (SELECT ida, idb, offn,
        |                pa - row_number() OVER (PARTITION BY ida, idb, offn ORDER BY pa) AS grp,
        |                pa, pb
        |         FROM m),
        |agg AS (SELECT ida, idb, min(pa) AS start_a, min(pb) AS start_b,
        |               (count(*) + 4)::BIGINT AS span_tokens
        |        FROM runs GROUP BY ida, idb, offn, grp)
        |SELECT ida, idb, start_a, start_b, span_tokens FROM agg
        |WHERE span_tokens >= 8
        |ORDER BY span_tokens DESC, ida, idb, start_a, start_b LIMIT 50""".stripMargin,
    "q75_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |chunks AS (
        |  SELECT doc_id, unnest(range(0, greatest(len(ws) - 4 + 1, 1), 1)) AS off, ws FROM w),
        |h AS (
        |  SELECT doc_id, md5(array_to_string(ws[off+1:off+4], ' ')) AS chunk_hash FROM chunks),
        |bench AS (SELECT DISTINCT chunk_hash FROM h WHERE doc_id % 11 = 0),
        |corpus AS (SELECT * FROM h WHERE doc_id % 11 <> 0)
        |SELECT doc_id, count(*) AS n_contaminated_chunks
        |FROM corpus JOIN bench USING (chunk_hash)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
