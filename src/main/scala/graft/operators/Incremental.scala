package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manifest-driven INCREMENTAL curation — the production re-run shape: a
  * 100 TB corpus grows by shards (crawl snapshots, source drops, dated
  * partitions), and re-running the whole curation DAG per delivery is the
  * single largest avoidable cost in a recurring pipeline. The wrapper here
  * processes ONLY shards not yet recorded in a processed-shard manifest,
  * unions the fresh results with the carried-over prior outputs, and emits
  * the updated manifest for the next run.
  *
  * Scale contract:
  *  - The manifest is SHARD-count-sized (thousands of rows at most), never
  *    data-sized — both the anti-join (what's new) and the semi-join
  *    (what's covered) broadcast it, so delta selection costs one corpus
  *    scan with a map-side filter: no shuffle of the corpus at all. With
  *    shard-partitioned parquet the broadcast filter collapses further
  *    into partition PRUNING (the scan skips covered directories).
  *  - `process` sees only the delta frame; whatever shuffles it performs
  *    are sized by the DELTA, not the corpus — the whole point.
  *  - Prior results are read back from storage (data-sized, but a plain
  *    scan-and-union: no recompute, no shuffle).
  *
  * Correctness caveat (documented, inherent to shard-incremental curation):
  * stages whose state is GLOBAL (cross-shard dedup, corpus-level quotas)
  * are only exactly incremental when their state travels alongside the
  * manifest (e.g. the dedup fingerprint store); a per-shard `process` is
  * exact for per-document stages (filters, token counts, per-doc scores).
  */
object Incremental {

  /** True iff Catalyst can PROVE `df` empty (it optimizes to a zero-row
    * LocalRelation — e.g. a `Seq.empty.toDF`/`createDataFrame(Nil)` store, or
    * anything `PropagateEmptyRelation` can fold). Used to SKIP materializing
    * an empty prior state: the bootstrap delivery is the common case where
    * the store is statically empty, and leaving the empty LocalRelation in
    * the plan lets the optimizer prune every store-side join/union of the
    * candidate kernel instead of checkpointing an empty frame and planning
    * real (32-task) stages against it — a measurable slice of mx26/mx27's
    * per-delivery fixed cost. A store read from parquet is never provably
    * empty, so production deliveries are unaffected.
    */
  private def provablyEmpty(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }

  /** Split `corpus` into (delta, covered) by the processed-shard manifest:
    * rows whose `shardCol` is absent from / present in `manifest`. The
    * manifest side is broadcast (shard-count-sized by contract).
    */
  def deltaShards(
      corpus: DataFrame, manifest: DataFrame, shardCol: String): (DataFrame, DataFrame) = {
    val m = broadcast(manifest.select(col(shardCol)).distinct())
    // using-joins move the key column first; restore the corpus's order so
    // delta/covered frames are drop-in for the caller's DAG
    val orig = corpus.columns.toSeq.map(col)
    (corpus.join(m, Seq(shardCol), "left_anti").select(orig: _*),
      corpus.join(m, Seq(shardCol), "left_semi").select(orig: _*))
  }

  /** Run `process` over ONLY the shards the manifest doesn't cover, union
    * with the prior run's outputs, and return `(results, newManifest)`.
    *
    * `prior` is the previous run's RESULT set (read from storage; its
    * schema must match what `process` emits — enforced by `unionByName`).
    * The new manifest is the old one plus the delta's distinct shard keys,
    * emitted under the same single-column schema so it round-trips:
    * feeding `newManifest` back in with an unchanged corpus yields an
    * EMPTY delta and `process` runs over zero rows — idempotent re-runs.
    */
  def processDelta(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      prior: DataFrame)(process: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val (delta, _) = deltaShards(corpus, manifest, shardCol)
    val results = prior.unionByName(process(delta))
    val newManifest = manifest.select(col(shardCol))
      .union(delta.select(col(shardCol)).distinct())
      .distinct()
    (results, newManifest)
  }

  /** Incremental EXACT deduplication with STATE TRAVEL — the concrete
    * answer to the global-state caveat above for the most common global
    * stage: content-hash dedup. The manifest delta is deduplicated against
    * (a) the prior runs' fingerprint store and (b) itself
    * (first-occurrence-within-delta by `idCol`), returning
    * `(survivors, newFingerprints)`; feeding `newFingerprints` (and the
    * grown manifest) back in makes the next run see every historical
    * fingerprint without ever recomputing one. Fingerprints are
    * `md5(textCol)` — the exact-dedup key, content-sized never
    * corpus-growing (one row per DISTINCT content ever seen).
    *
    * Scale: the within-delta pick is one fingerprint-keyed window over the
    * DELTA only; the store anti-join shuffles on the fingerprint — with
    * the store parquet BUCKETED by fingerprint (the production layout)
    * only the delta side moves. Store size is what it must be: the
    * complete dedup state; nothing here materializes the corpus.
    */
  def dedupDelta(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      priorFingerprints: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val (delta, _) = deltaShards(corpus, manifest, shardCol)
    val fp = md5(col(textCol))
    val firstInDelta = delta
      .withColumn("__fp", fp)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__fp")).orderBy(col(idCol))))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val kept = firstInDelta
      .join(priorFingerprints.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
    val newFingerprints = priorFingerprints.select(col("fp"))
      .union(kept.select(col("__fp").as("fp")))
    (kept.drop("__fp"), newFingerprints)
  }

  /** Shared candidate kernel for the signature-store incremental operators:
    * band the delta against (delta ∪ store-index), cap hot buckets over the
    * COMBINED banded population (so both sides drop the same boilerplate
    * keys), and verify every surfaced pairing by signature-estimated
    * Jaccard. Returns verified `(d_id, e_id)` pairs — `d_id` always a delta
    * doc; `e_id` a prior-store doc, or a smaller-id delta doc (each
    * unordered delta pair surfaces exactly once, oriented d_id > e_id).
    *
    * `broadcastDelta`: the steady-state incremental regime has delta ≪
    * store, and the default sort-merge banding join re-shuffles the
    * STORE's band index every delivery (measured 11.3 GB store-side vs
    * 0.2 GB delta-side at the 20M-doc smoke tier). With the flag on, the
    * delta's distinct band keys BROADCAST and the store's band index is
    * semi-join-FILTERED map-side — the store is scanned, never shuffled,
    * and "only the delta moves" holds in-session without a bucketed
    * store layout. Bit-identical results: a key absent from the delta
    * yields no candidates, and for every key present in the delta its
    * (store ∪ delta) bucket population — the cap input — is unchanged by
    * the store-side restriction. Requires the delta band-key set AND the
    * surfaced candidate set (the verify probe also broadcasts) to be
    * broadcastable: candidates are bounded by delta-bands × bucket
    * population, so hot-but-under-cap buckets inflate the probe — size
    * `maxBucket` so worst-case candidates broadcast, or leave the flag
    * off (fine for shard-sized deliveries against organic buckets; a
    * delivery too large for either bound uses the bucketed-store layout
    * instead — BucketedJoinSpec — which removes the same term at rest).
    */
  private[graft] def estVerifiedPairs(
      deltaSigs: DataFrame, priorSigs: DataFrame, k: Int, bands: Int,
      thresholdNum: Int, thresholdDen: Int, maxBucket: Int,
      broadcastDelta: Boolean = false,
      priorBandIndex: Option[DataFrame] = None): DataFrame = {
    // Collision-safety precondition: candidates surface via the 64-bit FNV
    // band-bucket keys, and a key COLLISION between unequal band slices only
    // stays harmless ("a collision only adds candidates; verify filters
    // them", Dedup's banding contract) while the verify threshold tolerates
    // fewer mismatching components than there are bands — then any pair the
    // pinned string-banding semantics would keep MUST share ≥1 true band
    // slice (pigeonhole: ≤ maxMismatch < bands mismatching components can
    // spoil at most maxMismatch of the bands), so it is surfaced regardless
    // of collisions. At the defaults (k=64, 8/10, 16 bands):
    // 64 − ceil(64·8/10) = 12 < 16 holds. A looser threshold (e.g. 5/10
    // with 16×4) breaks the argument: a collision could then be the ONLY
    // surfacing of a keepable pair, making the result depend on hash
    // collisions — reject loudly instead of silently diverging from the
    // pinned string-banding semantics (and the mx26 oracle).
    val maxMismatch = k - ((k * thresholdNum + thresholdDen - 1) / thresholdDen)
    require(maxMismatch < bands,
      s"threshold $thresholdNum/$thresholdDen with $bands bands of ${k / bands}" +
        s" rows allows $maxMismatch mismatching components (≥ $bands bands):" +
        " a pair at the threshold need not share any true band slice, so" +
        " bucket-key collisions would change the result. Raise the" +
        " threshold or use fewer rows per band.")
    def bandFrame(sigs: DataFrame, idOut: String): DataFrame =
      sigs.select(col("doc_id").as(idOut), posexplode(col("bk")).as(Seq("band", "key")))
    val dBands = bandFrame(deltaSigs, "d_id")
    // priorBandIndex: the store's band index persisted AT REST as
    // `(doc_id, band, key)` — bucketed by (band, key), the
    // BucketedJoinSpec layout — instead of being re-derived (and
    // re-SHUFFLED) from the signature store every delivery. With it, the
    // banding join, the cap aggregation and the cap anti-join all land in
    // the store's own buckets: only the delta's band rows move. The caller
    // owns equivalence (it must be exactly posexplode(bk) of priorSigs —
    // the committed layout of the incremental_near_dedup plugin).
    val pBandsAll = priorBandIndex
      .map(_.select(col("doc_id").as("p_id"), col("band"), col("key")))
      .getOrElse(bandFrame(priorSigs, "p_id"))
    val pBands =
      if (broadcastDelta)
        pBandsAll.join(
          broadcast(dBands.select(col("band"), col("key")).distinct()),
          Seq("band", "key"), "left_semi")
      else pBandsAll
    // Hot-bucket cap over the COMBINED (store ∪ delta) banded population —
    // computed as two PARTIAL aggregations merged by a full-outer join
    // rather than a union-then-groupBy (round 14): a union's output
    // partitioning is unknown, so the single groupBy re-shuffled the whole
    // STORE index every delivery even when the index is bucketed by
    // (band, key) at rest. Split, the store-side count lands in the
    // store's own buckets (no exchange over a bucketed scan) and only the
    // delta-side counts move; the summed populations are identical.
    val over = {
      val pc = pBands.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("__pn"))
      val dc = dBands.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("__dn"))
      pc.join(dc, Seq("band", "key"), "full_outer")
        .filter(coalesce(col("__pn"), lit(0L)) + coalesce(col("__dn"), lit(0L))
          > maxBucket)
        .select(col("band"), col("key"))
    }
    val dB = dBands.join(over, Seq("band", "key"), "left_anti")
    val pB = pBands.join(over, Seq("band", "key"), "left_anti")
    val candPrior = dB.join(pB, Seq("band", "key"))
      .select(col("d_id"), col("p_id").as("e_id")).distinct()
    val candDelta = dB.join(
        dB.select(col("band"), col("key"), col("d_id").as("e_id")),
        Seq("band", "key"))
      .filter(col("d_id") > col("e_id"))
      .select(col("d_id"), col("e_id")).distinct()
    // no outer distinct: the two candidate sets are disjoint by
    // construction (e_id domains are prior-store ids vs delta ids), so a
    // third full-width dedup shuffle would buy nothing. The verify join is
    // SPLIT along the same domain disjointness (round 14): candPrior's
    // e_ids resolve against the signature STORE and candDelta's against
    // the delta's — a union(prior, delta) e_id side would have unknown
    // partitioning, forcing a store-sized shuffle even when the store is
    // bucketed by doc_id at rest; split, the store side of the prior
    // verify reads co-located and only probe rows move.
    def verify(cand: DataFrame, eSigs: DataFrame): DataFrame = {
      val withSd = cand
        .join(deltaSigs.select(col("doc_id").as("d_id"), col("sig").as("sd")), "d_id")
      // under broadcastDelta the verify probe is delta-bounded too: hint it
      // broadcast so the signature STORE side is scanned, never shuffled —
      // the same scan-only contract as the banding semi-join above
      graft.functions.GraftFunctions.register(cand.sparkSession)
      (if (broadcastDelta) broadcast(withSd) else withSd)
        .join(eSigs.select(col("doc_id").as("e_id"), col("sig").as("se")), "e_id")
        // native equal-component count (SigMatchesExpr): same integer as the
        // aggregate(zip_with(...)) fold it replaces, one codegen'd primitive
        // loop per candidate pair instead of two interpreted HOFs — the
        // verify stage was the kernel's CPU hot spot (round 16, stage CPU in
        // `graft.tools.Trace`: 11.5 s CPU on 65 surviving pairs at sf0.1)
        .withColumn("matches", call_function("sig_matches", col("sd"), col("se")))
        .filter(col("matches") * thresholdDen >= k * thresholdNum)
        .select(col("d_id"), col("e_id"))
    }
    verify(candPrior, priorSigs).union(verify(candDelta, deltaSigs))
  }

  /** Incremental NEAR-deduplication with MinHash-signature STATE TRAVEL —
    * [[dedupDelta]]'s answer for the banded-LSH stage: the carried state is
    * the `(doc_id, sig, bk)` signature store
    * ([[Dedup.minhashSignaturesWithBands]]), so a delivery's banding joins
    * delta×(delta ∪ store-index) on the persisted band-bucket keys and NEVER
    * re-shingles (or re-reads) historical text.
    *
    * PINNED SEMANTICS (what the mx26 oracle replays as one global pass): a
    * delta document is DROPPED iff the bands×rowsPerBand banding surfaces a
    * candidate pairing with ANY EARLIER document — every prior-delivery
    * document (kept or dropped), or a smaller-`idCol` document within the
    * delta — whose signature-estimated Jaccard (#equal minhash components
    * / k) reaches `thresholdNum/thresholdDen` (integer compare:
    * `matches·den ≥ k·num`). Dropped-doc signatures stay in the store ON
    * PURPOSE: "earlier doc, kept or not" makes the drop decision a pure
    * per-pair predicate over a fixed total order — replay-stable across any
    * delivery partitioning — where a kept-only rule would chain
    * sequentially within a batch. Estimated (not exact-shingle) Jaccard is
    * what keeps the state O(k) longs per document; the estimator's
    * calibration against exact Jaccard is dd25's subject.
    *
    * Documents with fewer than `shingleK` tokens carry no signature: always
    * kept, never stored (no near-dup semantics at that length — the
    * [[Dedup.minhashNearDuplicates]] convention).
    *
    * PRECONDITION — `idCol` globally unique ACROSS deliveries, not just
    * within one: the grown store unions prior and delta signatures with no
    * uniqueness guard, and the candidate kernel's "no outer distinct"
    * optimization rests on delta ids never appearing among store ids. A doc
    * id re-delivered under a new shard would silently duplicate store rows
    * and double-emit verified pairs. (IncrementalSpec asserts store-id
    * uniqueness after each delivery; same contract on [[ccDelta]].)
    *
    * Scale: the store is corpus-growing but O(k) per doc; both band frames
    * shuffle on the 64-bit bucket key; `maxBucket` drops boilerplate
    * buckets (counted over store ∪ delta — [[Dedup.oversizedBuckets]]) the
    * way every banded self-join must at 100 TB. Returns
    * `(survivors, newSigs)`; feed `newSigs` + the grown manifest back in
    * and the next delivery's delta joins the same way — two deliveries
    * produce bit-identically the one-shot run over the (delivery, id)
    * order (IncrementalSpec pins it; mx26 oracle-checks it).
    *
    * `materializeState`: the store feeds the band index, the verify join
    * AND the grown-store union — 3–4 consumers. When deliveries CHAIN in
    * one session (each store is the previous call's lazy result, as the
    * mx26/mx27 oracle queries do), materializing once is the difference
    * between one evaluation and re-running the whole prior-delivery plan
    * per consumer. A production run whose store arrives from storage
    * (bucketed parquet — the documented layout, BucketedJoinSpec) should
    * pass `false`: 3 scans of an on-disk table beat writing a transient
    * state-sized localCheckpoint copy first. Same knob on [[ccDelta]].
    */
  def nearDedupDelta(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      priorSigs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      thresholdNum: Int = 8, thresholdDen: Int = 10,
      maxBucket: Int = 100000,
      materializeState: Boolean = true,
      sharedKernel: Option[(DataFrame, DataFrame)] = None,
      broadcastDelta: Boolean = false,
      priorBandIndex: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val k = bands * rowsPerBand
    val (delta, _) = deltaShards(corpus, manifest, shardCol)
    // sharedKernel = a precomputed (deltaSigs, verifiedPairs) for THIS
    // delivery — the memoizable banding kernel several report queries over
    // the same corpus split share verbatim (mx26 keep/drop and mx27
    // cluster labels differ only in what they DO with the pairs; see
    // graft.queries.Shared). The caller owns the equivalence: the frames
    // must be exactly what this call would compute — the Verify lane
    // rebuilds them from scratch per query, so a divergent kernel cannot
    // pass the gate. With a kernel present the prior store is consumed
    // only by the grown-state union, so it is NOT materialized here.
    val prior =
      if (sharedKernel.isEmpty && materializeState) Dedup.materializedOnce(priorSigs)
      else priorSigs
    val (deltaSigs, pairs) = sharedKernel match {
      case Some((sigs, p)) => (sigs, p)
      case None =>
        val sigs = Dedup.cachedForReuse(
          Dedup.minhashSignaturesWithBands(delta, idCol, textCol, shingleK, k, bands))
        // every verified pairing is vs an EARLIER doc by construction (store
        // docs precede the delta; within-delta pairs orient d_id > e_id)
        (sigs, estVerifiedPairs(
          sigs, prior, k, bands, thresholdNum, thresholdDen, maxBucket,
          broadcastDelta, priorBandIndex))
    }
    val dropped = pairs.select(col("d_id").as(idCol)).distinct()
    val survivors = delta.join(dropped, Seq(idCol), "left_anti")
    val newSigs = prior.select(col("doc_id"), col("sig"), col("bk"))
      .unionByName(deltaSigs.select(col("doc_id"), col("sig"), col("bk")))
    (survivors, newSigs)
  }

  /** Incremental IVF index maintenance — the ANN-side member of the
    * state-travel family ([[dedupDelta]] exact, [[nearDedupDelta]] banded,
    * [[ccDelta]] clusters): the carried state is the trained centroid frame
    * `(c_id, cv, cn)` (from [[Similarity.kmeansCentroids]] or any
    * deterministic quantizer) plus the per-cell population counts, so a
    * delivery assigns ONLY its delta vectors to the carried centroids —
    * history is never re-embedded, re-read, or re-clustered. Assignment is
    * [[Similarity.assignCells]]'s broadcast argmax-cosine pass (ties →
    * lowest cell id): per-row and stateless, so two deliveries trivially ≡
    * one global pass with the same centroids — the replay-stability
    * contract is exact here, not approximate.
    *
    * Returns `(assignments, newCounts)`: `assignments` = (idCol, cell) for
    * the delta only; `newCounts` = the carried `(cell, n)` populations plus
    * the delta's. The counts are what an index maintainer watches: a cell
    * whose delta share drifts from its historical share signals quantizer
    * staleness (mx28 reports the drift in exact ppm) — THE re-train
    * trigger, available without any corpus-scale work.
    *
    * Scale: one broadcast of k×dims centroids, one narrow pass over the
    * delta, a k-row counts state. Nothing else moves.
    *
    * `sharedAssigned`: a precomputed [[Similarity.assignCells]] frame for
    * exactly THIS delivery's delta under `centroids` — assignment is
    * per-row and stateless, so several report queries continuing the same
    * carried index can assign the corpus ONCE and pass per-delivery
    * filters of that one frame (the mx26/mx27 `sharedKernel` discipline
    * applied to the ANN family; see [[graft.queries.Shared.ivfAssignedAll]]).
    * The caller owns the equivalence — the Verify lane clears the memo per
    * query, so a divergent frame cannot pass the gate.
    */
  def ivfDelta(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      centroids: DataFrame, priorCounts: DataFrame,
      idCol: String, vecCol: String,
      sharedAssigned: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val assigned = sharedAssigned.getOrElse {
        val (delta, _) = deltaShards(corpus, manifest, shardCol)
        Similarity.assignCells(
          Similarity.preparedCorpus(delta, idCol, vecCol), centroids)
      }
      .select(col("vec_id").as(idCol), col("cell"))
    val deltaCounts = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val newCounts = priorCounts.select(col("cell"), col("n"))
      .unionByName(deltaCounts)
      .groupBy(col("cell")).agg(sum(col("n")).cast("long").as("n"))
    (assigned, newCounts)
  }

  /** Incremental per-group quota with CARRIED COUNTS — the curation-quota
    * member of the state-travel family (mx2's "first `quota` docs per
    * group" made delivery-incremental): the carried state is the
    * group-count frame `(groupCol, n_kept)`, and a delivery keeps, per
    * group, its first `quota − carried` rows in `orderCol` order. Feeding
    * the grown counts (and manifest) back in, two deliveries produce
    * EXACTLY the one-global run over the (delivery, orderCol) total order
    * — a delta row's global rank is its within-delta rank plus the carried
    * count, because every prior-delivery row precedes it by construction.
    *
    * PRECONDITIONS: deliveries are processed in the order that defines the
    * quota's "first" (the manifest grows monotonically — same contract as
    * every member of this family), and `orderCol` is UNIQUE within each
    * group (a tied order makes the row_number pick nondeterministic, so
    * the kept set could differ between the incremental run and the global
    * replay — the family's globally-unique-id discipline).
    *
    * Returns `(kept, newCounts)`. Scale: one window over the DELTA keyed
    * by the group + one broadcast-sized join of the group-count state —
    * the corpus and the kept history are never re-read; the state is
    * |groups| rows, not data-sized. The prior counts frame feeds both the
    * remaining-quota join and the grown-state union, so a non-empty one
    * is materialized once (`materializeState`, the family knob); note
    * `kept` and `newCounts` still share the delta window lazily — a
    * caller consuming BOTH in-session should persist `kept` (or the
    * counts, which are |groups|-sized) rather than evaluate the window
    * twice.
    */
  def quotaDelta(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      priorCounts: DataFrame, groupCol: String, orderCol: String,
      quota: Long, materializeState: Boolean = true): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(quota >= 0, s"quota must be non-negative, got $quota")
    val (delta, _) = deltaShards(corpus, manifest, shardCol)
    val carried0 = priorCounts.select(col(groupCol), col("n_kept"))
    val carried =
      if (materializeState) Dedup.materializedOnce(carried0)
      else carried0
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
    val kept = delta
      .withColumn("__rn", row_number().over(w))
      .join(broadcast(carried), Seq(groupCol), "left")
      .filter(col("__rn") <= lit(quota) - coalesce(col("n_kept"), lit(0L)))
      .drop("__rn", "n_kept")
      .select(corpus.columns.map(col): _*)
    val newCounts = carried
      .unionByName(kept.groupBy(col(groupCol)).agg(count(lit(1)).as("n_kept")))
      .groupBy(col(groupCol)).agg(sum(col("n_kept")).cast("long").as("n_kept"))
    (kept, newCounts)
  }

  /** Incremental vocabulary / document-frequency store — the carried
    * ADDITIVE-aggregate state shape the family's other members don't
    * exercise (id-keyed stores travel rows; this travels a keyed SUM). The
    * state is `(term, df)` with df = the number of documents ever seen
    * containing `term` (whitespace tokens of `lower(textCol)`, the
    * [[TextAnalysis.tokens]] convention, empty tokens dropped; a document
    * counts once per term — `array_distinct` BEFORE the explode, so no
    * corpus-scale distinct is ever shuffled). A delivery tokenizes ONLY its
    * delta, aggregates per-term delta counts, and merges them into the
    * store by one term-keyed sum.
    *
    * Two deliveries ≡ one global pass, exactly: each document belongs to
    * exactly one delivery, so per-term document counts are additive over
    * deliveries in any order — no policy, no tie-breaking, the strongest
    * equivalence in the family (IncrementalSpec pins it; mx32
    * oracle-replays it end-to-end).
    *
    * Returns `(deltaReport, newVocab)`: `deltaReport` = one row per term
    * the DELTA touched — `(term, df_prior, df_delta, df_total)`, the
    * vocabulary-drift feed (new terms are `df_prior = 0`; a tokenizer
    * health monitor alerts on their rate) — and `newVocab` = the complete
    * grown `(term, df)` store.
    *
    * Scale: one narrow tokenize+explode pass over the delta, one term-keyed
    * map-side-combinable aggregate, one term-keyed merge against the store
    * — with the store parquet BUCKETED by term (the production layout) only
    * the delta-side counts move. State is vocabulary-sized (natural-corpus
    * vocabularies grow ~Heaps' law, sublinearly in the corpus), the report
    * is delta-vocabulary-sized, and history is never re-tokenized.
    */
  def vocabDelta(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      priorVocab: DataFrame, textCol: String,
      materializeState: Boolean = true): (DataFrame, DataFrame) = {
    val (delta, _) = deltaShards(corpus, manifest, shardCol)
    // unlike the pair-store operators, the prior feeds exactly ONE
    // consumer (the merge join) — caching it would be a write-once
    // read-once materialization, pure overhead; only the merged frame
    // (which feeds both the report and the grown store) checkpoints
    val prior = priorVocab
    val deltaCounts = delta
      .select(explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("df_delta"))
    // full-outer merge feeds BOTH the grown store and the touched-term
    // report; materialize it once when the caller wants reusable state
    val merged0 = deltaCounts
      .join(prior.select(col("term"), col("df").as("df_prior")), Seq("term"), "full_outer")
      .na.fill(0L, Seq("df_prior", "df_delta"))
      .withColumn("df_total", col("df_prior") + col("df_delta"))
    val merged = if (materializeState) Dedup.cachedForReuse(merged0) else merged0
    val newVocab = merged.select(col("term"), col("df_total").as("df"))
    val deltaReport = merged.filter(col("df_delta") > 0)
      .select(col("term"), col("df_prior"), col("df_delta"), col("df_total"))
    (deltaReport, newVocab)
  }

  /** One deterministic Lloyd refinement of SELECTED cells: every cell with
    * rows in `members` gets centroid = the componentwise mean of its member
    * vectors; every other cell keeps its carried centroid (the emptied-cell
    * rule of [[Similarity.kmeansCentroids]]). Accumulation is in vec_id
    * order inside each group — bit-reproducible regardless of shuffle
    * arrival order, and replayable in SQL as a vec_id-ordered list fold
    * (the kmeansCentroids discipline). `members` is (cell, vec_id, v) and
    * must already be CAPPED by the caller (drifted cells only, bounded
    * historical sample) — the kernel materializes each group in task
    * memory.
    */
  def retrainCentroids(members: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = members.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val means = members.select(col("cell"), col("vec_id"), col("v"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .mapGroups { (cell: Long, rows: Iterator[(Long, Long, Array[Double])]) =>
        val ms = rows.map(t => (t._2, t._3)).toArray.sortBy(_._1)
        val acc = new Array[Double](ms(0)._2.length)
        ms.foreach { case (_, v) =>
          var i = 0
          while (i < v.length) { acc(i) += v(i); i += 1 }
        }
        (cell, acc.map(_ / ms.length))
      }
      .toDF("c_id", "ncv")
    centroids.select(col("c_id"), col("cv"), col("cn"))
      .join(means, Seq("c_id"), "left")
      .select(col("c_id"), coalesce(col("ncv"), col("cv")).as("cv"))
      .withColumn("cn", Similarity.norm(col("cv")))
  }

  /** Drift-triggered IVF retrain with a measured recall verdict — the
    * operator that ACTS on [[ivfDelta]]'s re-train signal and reports what
    * the retrain bought. mx28 reports per-cell ppm share drift between the
    * carried populations and a delivery; this takes the `nDrifted` worst
    * cells and:
    *
    *  1. retrains ONLY those centroids — one [[retrainCentroids]] Lloyd
    *     step over (ALL delta members of the cell ∪ the `sampleCap` prior
    *     members with the smallest (md5-hash, id) — the m24/mx1 hash
    *     convention, a stable pseudo-random historical sample that never
    *     re-reads more than `nDrifted × sampleCap` old vectors);
    *  2. locally repairs the index: vectors in drifted cells re-assign
    *     against the FULL updated codebook; every other vector keeps its
    *     cell (no corpus-scale re-index);
    *  3. measures recall@k of `nProbe`-cell IVF search on `queryPred`
    *     queries against the exact brute-force top-k (the sim10 ground
    *     truth), BEFORE (old codebook + old cells) and AFTER (updated
    *     codebook + repaired cells).
    *
    * Output: two rows (phase ∈ {after, before}, hits, total, recall_bp) —
    * the single number an index maintainer needs to accept or roll back a
    * retrain. Every float is the deterministic sequential-fold dot product
    * and every rank ties to the lowest id, so the whole report is
    * oracle-exact.
    *
    * Scale: one corpus assignment pass (production substitutes the STORED
    * per-delivery [[ivfDelta]] assignments — the pass here keeps the
    * operator self-contained), k-row drift/centroid frames, a
    * `nDrifted × sampleCap`-bounded retrain set, and query-scale search
    * frames; `queryPred` must select a broadcast-sized query set.
    *
    * `sharedAsg`: the full-corpus [[Similarity.assignCells]] frame under
    * `centroids`, already materialized — the same [[ivfDelta]] hook: a
    * report suite continuing one carried index assigns the corpus once
    * ([[graft.queries.Shared.ivfAssignedAll]]) instead of per consumer.
    * Caller owns the equivalence (Verify clears the memo per query).
    */
  def ivfRetrainReport(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      centroids: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int = 10, nProbe: Int = 2,
      nDrifted: Int = 4, sampleCap: Int = 64,
      sharedAsg: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{LongType, StringType}
    val cov = broadcast(manifest.select(col(shardCol)).distinct()
      .withColumn("__cov", lit(true)))
    val flags = corpus.select(col(idCol).as("vec_id"), col(shardCol))
      .join(cov, Seq(shardCol), "left")
      .select(col("vec_id"), coalesce(col("__cov"), lit(false)).as("is_prior"))
    val asg = Dedup.cachedForReuse(
      sharedAsg.getOrElse(Similarity.assignCells(
          Similarity.preparedCorpus(corpus, idCol, vecCol), centroids))
        .join(flags, Seq("vec_id")))
    // drift in exact ppm over the full cell list (mx28's report shape);
    // emptied totals read as zero drift rather than a divide-by-zero
    // Drift selection on the DRIVER (round 16): the counts/total/rank chain
    // is k-row work (the codebook size — bounded by construction, same class
    // as the PrefixSum stats collect), but planned distributed it cost a
    // crossJoin + rank-window + broadcast subtree that every consumer of
    // `drifted` (the semi-join, the anti-join, both searches) re-planned and
    // re-ran. One k-row collect of the per-cell counts replaces it; the ppm
    // arithmetic below is the exact integer form of the removed SQL
    // (non-negative longs, floor division, ties → lowest cell).
    val cellCounts = asg.groupBy(col("cell")).agg(
      sum(when(col("is_prior"), 1L).otherwise(0L)).as("n_prior"),
      sum(when(col("is_prior"), 0L).otherwise(1L)).as("n_delta"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fullCounts = centroids.select(col("c_id")).collect()
      .map(r => r.getLong(0) -> cellCounts.getOrElse(r.getLong(0), (0L, 0L)))
    val tp = fullCounts.map(_._2._1).sum
    val td = fullCounts.map(_._2._2).sum
    val driftedCells: Seq[Long] = fullCounts
      .map { case (cell, (np, nd)) =>
        val sp = if (tp == 0) 0L else 1000000L * np / tp
        val sd = if (td == 0) 0L else 1000000L * nd / td
        (cell, math.abs(sp - sd))
      }
      .sortBy { case (cell, drift) => (-drift, cell) }
      .take(nDrifted).map(_._1).toSeq
    val inDrift = asg.filter(col("cell").isInCollection(driftedCells))
    val deltaMembers = inDrift.filter(!col("is_prior"))
      .select(col("cell"), col("vec_id"), col("v"))
    val priorSample = inDrift.filter(col("is_prior"))
      .withColumn("__hk", conv(substring(
          md5(col("vec_id").cast(StringType)), 1, 8), 16, 10).cast(LongType))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("__hk"), col("vec_id"))))
      .filter(col("__rn") <= sampleCap)
      .select(col("cell"), col("vec_id"), col("v"))
    val newCents = Dedup.cachedForReuse(
      retrainCentroids(deltaMembers.unionByName(priorSample), centroids))
    // local repair: drifted cells' vectors re-assign against the updated
    // codebook; everything else keeps its cell
    val idxAfter = asg.filter(!col("cell").isInCollection(driftedCells))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .unionByName(Similarity.assignCells(
          inDrift.select(col("vec_id"), col("v"), col("nrm")), newCents)
        .select(col("vec_id"), col("v"), col("nrm"), col("cell")))
    val idxBefore = asg.select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val queries = asg.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    // exact ground truth: brute-force top-k over the whole corpus
    val wT = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    val truth = Dedup.cachedForReuse(asg.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(queries), col("q_id") =!= col("vec_id"))
      .withColumn("cosine",
        Similarity.dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
      .withColumn("rnk", row_number().over(wT))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id")))
    def recallRow(phase: String, cents: DataFrame, index: DataFrame): DataFrame = {
      val wProbe = Window.partitionBy(col("q_id")).orderBy(col("c_cos").desc, col("c_id"))
      val qCells = queries.join(broadcast(cents))
        .withColumn("c_cos",
          Similarity.dot(col("q_v"), col("cv")) / (col("q_nrm") * col("cn")))
        .withColumn("__rn", row_number().over(wProbe))
        .filter(col("__rn") <= nProbe)
        .select(col("q_id"), col("q_v"), col("q_nrm"), col("c_id").as("cell"))
      val wR = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
      val found = index.join(broadcast(qCells), Seq("cell"))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("cosine",
          Similarity.dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
        .withColumn("rnk", row_number().over(wR))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("vec_id"))
      found.join(truth, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("total"))))
        .select(lit(phase).as("phase"),
          col("hits").cast(LongType).as("hits"),
          col("total").cast(LongType).as("total"),
          when(col("total") === 0, lit(null).cast(LongType))
            .otherwise(expr("hits * 10000 div total")).as("recall_bp"))
    }
    recallRow("after", newCents, idxAfter)
      .unionByName(recallRow("before", centroids, idxBefore))
      .orderBy(col("phase"))
  }

  /** Incremental SemDeDup ([[Dedup.semDedup]]'s embedding-space semantic
    * dedup) with STATE TRAVEL — the last dedup family member whose state
    * travels ([[dedupDelta]] hash, [[nearDedupDelta]] MinHash, [[ccDelta]]
    * clusters, [[ivfDelta]] IVF counts): the carried state is one row per
    * historical vector, `(vec_id, v, nrm, cell, cell_cos, grp, keep)` — its
    * k-means cell under the CARRIED quantizer, its cosine to that cell's
    * centroid, its duplicate-group label and its survivor flag.
    *
    * A delivery:
    *  1. assigns ONLY its delta vectors to the carried centroids
    *     ([[ivfDelta]]'s broadcast argmax-cosine pass — history is never
    *     re-embedded or re-read);
    *  2. pairs the delta WITHIN each cell against (delta ∪ store) at
    *     `cosine ≥ threshold` — the store side participates only in cells
    *     the delta touches, so the pair space is delta×cell-sized;
    *  3. contracts historical endpoints to their carried `grp` labels and
    *     runs [[Dedup.connectedComponentsStar]] over the CONTRACTED
    *     (delta-sized) graph — a delivery that bridges two historical
    *     groups merges them retroactively via one state-sized label join,
    *     exactly [[ccDelta]]'s move;
    *  4. recomputes the survivor flag ONLY in touched groups (keep = the
    *     member with the LOWEST cosine to its cell centroid, ties → lowest
    *     id — [[Dedup.semDedup]]'s policy verbatim); untouched groups carry
    *     their flags forward unread.
    *
    * Two deliveries ≡ one global pass with the same centroids, exactly:
    * cells and `cell_cos` are per-row functions of the carried quantizer;
    * every within-cell pair ≥ threshold is surfaced by the delivery in
    * which its LATER member arrives (induction — store×store pairs were
    * delta×(delta ∪ store) pairs then); components are order-independent
    * with `grp` = min member id by the same induction as [[ccDelta]]; and
    * the keep rule is a pure function of final group membership and
    * delivery-independent `cell_cos` values. IncrementalSpec pins the
    * two-delivery ≡ one-global replay including a bridge + keep-flip case;
    * mx29 oracle-replays it end-to-end.
    *
    * PRECONDITIONS: `centroids` must be the SAME frame across all
    * deliveries (train once — e.g. [[Similarity.kmeansCentroids]] on the
    * bootstrap delivery — then carry; re-training mid-stream changes cells
    * and breaks the within-cell pairing induction); ids globally unique
    * across deliveries (the store-union note on [[nearDedupDelta]]); no
    * zero-norm vectors (cosine would be NaN with engine-dependent argmax —
    * the mx28 note).
    *
    * Returns `(deltaResults, newState)`: `deltaResults` = (idCol, cell,
    * grp, keep) for the delta only; `newState` = the grown state with
    * labels AND keep flags current as of this delivery. Scale: one k×dims
    * centroid broadcast, within-cell joins sized by delta×cell, CC over a
    * delta-sized contracted graph, keep recompute sized by touched groups
    * — nothing corpus-scale moves after the bootstrap.
    */
  def semDedupDelta(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      centroids: DataFrame, priorState: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      materializeState: Boolean = true,
      sharedAsg: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // sharedAsg: this delivery's delta already assigned under `centroids`
    // and already materialized — the ivfDelta hook (assignment is per-row
    // stateless, so one corpus-wide pass serves every delivery as filters;
    // caller owns the equivalence, Verify clears the memo per query).
    // Without it: (vec_id, v, nrm, cell, cell_cos) feeds both pair sides
    // and the final labeling, so materialize once (the semDedup discipline).
    val asg = sharedAsg.getOrElse {
      val (delta, _) = deltaShards(corpus, manifest, shardCol)
      Dedup.cachedForReuse(Similarity.assignCells(
        Similarity.preparedCorpus(delta, idCol, vecCol), centroids))
    }
    val prior =
      if (materializeState) Dedup.materializedOnce(priorState)
      else priorState
    val dA = asg.select(col("cell"), col("vec_id").as("d_id"),
      col("v").as("dv"), col("nrm").as("dn"))
    def eSide(f: DataFrame) = f.select(col("cell"), col("vec_id").as("e_id"),
      col("v").as("ev"), col("nrm").as("en"))
    val pairCos = Similarity.dot(col("dv"), col("ev")) / (col("dn") * col("en"))
    // each unordered delta pair once (d_id > e_id); every delta×store pair
    // has the delta doc as d_id — both orientations mirror estVerifiedPairs
    val pairsDelta = dA.join(eSide(asg), "cell")
      .filter(col("d_id") > col("e_id") && pairCos >= lit(threshold))
      .select(col("d_id"), col("e_id"))
    val pairsPrior = dA.join(eSide(prior), "cell")
      .filter(pairCos >= lit(threshold))
      .select(col("d_id"), col("e_id"))
    // contract: historical endpoints collapse to their carried labels. The
    // label lookup is delta-bounded on BOTH sides by construction (pairs
    // are delta-sized; a LEFT join can only broadcast its right side, so
    // semi-filter the store's label columns down to the touched e_ids
    // first) — the carried store is scanned map-side, never shuffled by
    // vec_id (round 15; the at-rest bucketing is by cell, so an e_id-keyed
    // SMJ here would re-shuffle the whole store every delivery).
    val pairsAll = Dedup.cachedForReuse(pairsDelta.union(pairsPrior))
    val touchedLabels = prior.select(col("vec_id").as("e_id"), col("grp"))
      .join(broadcast(pairsAll.select(col("e_id")).distinct()), Seq("e_id"), "left_semi")
    val contracted = pairsAll
      .join(broadcast(touchedLabels), Seq("e_id"), "left")
      .select(col("d_id").as("a"), coalesce(col("grp"), col("e_id")).as("b"))
    val cc = Dedup.connectedComponentsStar(contracted, "a", "b")
    val deltaLab = asg
      .join(cc.select(col("id").as("vec_id"), col("comp")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("cell_cos"),
        coalesce(col("comp"), col("vec_id")).as("grp"))
    // store docs relabel through their OLD label's node — the retroactive
    // bridge merge, one state-scan with the delta-sized label map broadcast
    // (cc is CC over the contracted delta graph — bounded by the pair set,
    // the operator's scale contract), no vectors re-read or re-shuffled
    val ccB = broadcast(cc)
    val priorLab = prior
      .join(ccB.select(col("id").as("grp"), col("comp")), Seq("grp"), "left")
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("cell_cos"),
        coalesce(col("comp"), col("grp")).as("grp"), col("keep"))
    // touched groups = exactly the CC components (a pairless delta doc's
    // self-group can't collide with them: component minima are delta-with-
    // pair ids or old labels, and ids are globally unique)
    val touched = broadcast(cc.select(col("comp").as("grp")).distinct())
    val wKeep = Window.partitionBy(col("grp"))
      .orderBy(col("cell_cos").asc, col("vec_id"))
    val rescored = priorLab.drop("keep")
      .unionByName(deltaLab)
      .join(touched, Seq("grp"), "left_semi")
      .withColumn("keep", row_number().over(wKeep) === 1)
    val singletons = deltaLab.join(touched, Seq("grp"), "left_anti")
      .withColumn("keep", lit(true))
      .select(rescored.columns.map(col): _*)
    val newState = prior
      .join(ccB.select(col("id").as("grp")), Seq("grp"), "left_anti")
      .select(rescored.columns.map(col): _*) // untouched: labels+keep carried
      .unionByName(rescored)
      .unionByName(singletons)
    // Delta verdicts straight from the branches that CONTAIN delta rows
    // (rescored is touched-group-sized, singletons delta-sized) — round 15:
    // semi-joining the full newState union on vec_id re-shuffled the whole
    // carried store every delivery (the union's partitioning is unknown),
    // the one store-sized term left after the at-rest cell bucketing; the
    // untouched-prior branch holds no delta ids, so the results are
    // row-identical.
    val deltaResults = rescored
      .join(asg.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .unionByName(singletons)
      .select(col("vec_id").as(idCol), col("cell"), col("grp"), col("keep"))
    (deltaResults, newState)
  }

  /** Incremental gram-level CONTAMINATION with a traveling gram store — the
    * state-travel member for decontamination (dd19/dd30's subject): eval
    * benchmarks and training corpora BOTH grow over time, and a gram that
    * arrives in a later training delivery contaminates an eval document
    * that shipped months earlier. The carried state is three frames:
    *
    *  - `priorTrainGrams` `(g)` — every distinct word-`shingleK`-gram ever
    *    seen in a TRAINING document (the dd30 gram convention:
    *    lowercase, space-split, k-token shingles, distinct per doc);
    *  - `priorEvalGrams` `(doc_id, g)` — each historical EVAL document's
    *    distinct gram set (kept so retroactive probes never re-read or
    *    re-shingle historical eval text);
    *  - `priorHits` `(doc_id, n_grams, n_hit)` — the running per-eval-doc
    *    contamination counters (dd30's report numerators/denominators).
    *
    * A delivery (docs split into train/eval by `benchPred`):
    *  1. shingles ONLY its delta; delta-new train grams = delta's distinct
    *     grams anti-joined against the store (gram-keyed — with the store
    *     parquet BUCKETED by `g`, only the delta side moves);
    *  2. RETROACTIVELY probes historical eval docs against the delta-new
    *     grams only — one gram-keyed semi-join of store-new × eval-gram
    *     store; counters can only grow;
    *  3. probes delta eval docs against the FULL grown train store (the
    *     dd30 eval-side-bounded shape, per delivery);
    *  4. grows all three stores.
    *
    * Two deliveries ≡ one global pass, exactly: `n_hit(d)` converges to
    * `|grams(d) ∩ allTrainGrams|`, and each (eval doc, gram) hit is
    * counted exactly once — in the delivery where BOTH sides first
    * coexist (gram-first → counted at the doc's arrival via step 3;
    * doc-first → counted at the gram's arrival via step 2; same-delivery
    * → step 3, because step 2 probes only the PRIOR eval store). Grams
    * enter `trainGrams` exactly once (the anti-join), so step 2 can never
    * double-count. IncrementalSpec pins the replay including the
    * retroactive case; mx33 oracle-replays it end-to-end.
    *
    * Eval docs with fewer than `shingleK` tokens carry no grams: absent
    * from the report (no contamination semantics at that length — the
    * [[Dedup.contaminationDepth]] convention). PRECONDITIONS: `idCol`
    * globally unique across deliveries (the family discipline) and
    * `benchPred` a pure per-row function of the document (a doc must not
    * change sides between deliveries).
    *
    * Returns `(newTrainGrams, newEvalGrams, newHits)`; report consumers
    * derive ppm as `1000000 * n_hit div n_grams` (exact integers, dd30's
    * rendering). Scale: every shuffle is delta-gram- or delta-doc-sized;
    * the stores are what they must be (the complete gram state) and
    * history text is never re-read.
    */
  def contaminationDelta(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      priorTrainGrams: DataFrame, priorEvalGrams: DataFrame, priorHits: DataFrame,
      idCol: String, textCol: String,
      benchPred: org.apache.spark.sql.Column, shingleK: Int = 5,
      materializeState: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    val (delta, _) = deltaShards(corpus, manifest, shardCol)
    def side(pred: org.apache.spark.sql.Column) = Dedup.wordShingleRows(
      Dedup.spread(delta.filter(pred)
        .select(col(idCol).as("doc_id"), col(textCol).as("txt"))), shingleK)
    // prior gram stores feed two consumers each (probe + grown-store
    // union) — the family's materializeState knob; a store read from
    // bucketed parquet passes false and scans twice instead
    def mat(df: DataFrame) =
      if (materializeState) Dedup.materializedOnce(df) else df
    val prT = mat(priorTrainGrams.select(col("g")))
    val prE = mat(priorEvalGrams.select(col("doc_id"), col("g")))
    // 1. delta-new train grams (each gram enters the store exactly once)
    val newGrams = Dedup.cachedForReuse(
      side(!benchPred).select(explode(col("sh")).as("g")).distinct()
        .join(prT, Seq("g"), "left_anti"))
    // 2. retroactive increments for HISTORICAL eval docs only
    val retro = prE.join(newGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__inc"))
    // 3. delta eval docs probe the grown store
    val deltaEvalSh = Dedup.cachedForReuse(side(benchPred))
    val deltaEvalGrams = deltaEvalSh.select(col("doc_id"), explode(col("sh")).as("g"))
    val grownTrain = prT.unionByName(newGrams)
    // the delta-eval probe is SPLIT along the store/new-gram domain (round
    // 15): probing the grownTrain UNION re-shuffled the whole carried gram
    // store every delivery (a union's output partitioning is unknown, so
    // the at-rest `g` bucketing is invisible to the join). prT and newGrams
    // are DISJOINT by the anti-join above, so each (doc, gram) row survives
    // at most ONE of the two semi-joins and the union of the survivors
    // counts exactly like the union probe — while each semi's store side
    // reads co-located and only delta-sized rows reach the aggregate
    val deltaHits = deltaEvalGrams.join(prT, Seq("g"), "left_semi")
      .unionByName(deltaEvalGrams.join(newGrams, Seq("g"), "left_semi"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    val deltaEvalHits = deltaEvalSh
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"))
      .join(deltaHits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_hit"))
    // 4. grown state
    val newHits = priorHits.select(col("doc_id"), col("n_grams"), col("n_hit"))
      .join(retro, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        (col("n_hit") + coalesce(col("__inc"), lit(0L))).as("n_hit"))
      .unionByName(deltaEvalHits)
    val newEvalGrams = prE.unionByName(deltaEvalGrams)
    (grownTrain, newEvalGrams, newHits)
  }

  /** Incremental near-dup CLUSTER maintenance — the retroactivity answer
    * the keep/drop rule of [[nearDedupDelta]] deliberately sidesteps: dd11's
    * min-id connected-component labels, maintained across deliveries by
    * carrying `(doc_id, sig, bk, label)` state. Connected components are
    * ORDER-INDEPENDENT, so incremental maintenance is exact by union-find
    * contraction: map every verified delta pairing's historical endpoint to
    * its carried label, run [[Dedup.connectedComponentsStar]] over the
    * CONTRACTED graph (delta docs + old cluster labels as super-nodes —
    * delta-sized, never corpus-sized), and rewrite labels through the
    * result. A delivery that BRIDGES two historical clusters merges them —
    * every member of both clusters is relabeled to the joint min via one
    * join on the old label (state-sized, no text ever re-read). Two
    * deliveries produce the same labels as one global banded run over the
    * union (IncrementalSpec pins it, including the bridge case; mx27
    * oracle-replays it), because run 1 already surfaced every
    * history×history pair when that history was its delta. Caveat shared
    * with every banded pass: the hot-bucket cap is counted over the
    * population visible at each delivery, so a bucket that only crosses
    * `maxBucket` in the global union can admit pairs a global run would
    * cap away — at the default 100 k cap this needs pathological
    * boilerplate, and the cap exists precisely to drop such buckets.
    *
    * Returns `(deltaLabels, newState)`: `deltaLabels` = (idCol, cluster_id)
    * for every delta doc (sig-less docs are their own singleton);
    * `newState` = the grown `(doc_id, sig, bk, label)` store (signed docs
    * only, labels current as of this delivery).
    *
    * PRECONDITION: `idCol` globally unique across deliveries — see the
    * store-union note on [[nearDedupDelta]].
    */
  def ccDelta(
      corpus: DataFrame, manifest: DataFrame, shardCol: String,
      priorState: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      thresholdNum: Int = 8, thresholdDen: Int = 10,
      maxBucket: Int = 100000,
      materializeState: Boolean = true,
      sharedKernel: Option[(DataFrame, DataFrame)] = None,
      broadcastDelta: Boolean = false,
      priorBandIndex: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val k = bands * rowsPerBand
    val (delta, _) = deltaShards(corpus, manifest, shardCol)
    // see the materializeState note on nearDedupDelta; unlike there, the
    // prior state stays materialized even under a sharedKernel — it feeds
    // both the label contraction and the store rewrite below
    val prior =
      if (materializeState) Dedup.materializedOnce(priorState)
      else priorState
    // sharedKernel — see nearDedupDelta: the verified pairs are IDENTICAL
    // between the keep/drop and cluster-label consumers (estVerifiedPairs
    // reads only (doc_id, sig, bk), never the carried labels)
    val (deltaSigs, pairs) = sharedKernel match {
      case Some((sigs, p)) => (sigs, p)
      case None =>
        val sigs = Dedup.cachedForReuse(
          Dedup.minhashSignaturesWithBands(delta, idCol, textCol, shingleK, k, bands))
        (sigs, estVerifiedPairs(
          sigs, prior, k, bands, thresholdNum, thresholdDen, maxBucket,
          broadcastDelta, priorBandIndex))
    }
    // contract: historical endpoints collapse to their carried labels;
    // delta endpoints stand for themselves
    val priorLabels = prior.select(col("doc_id").as("e_id"), col("label"))
    val contracted = pairs
      .join(priorLabels, Seq("e_id"), "left")
      .select(col("d_id").as("a"), coalesce(col("label"), col("e_id")).as("b"))
    val cc = Dedup.connectedComponentsStar(contracted, "a", "b")
    // labels: delta docs through their own node; store docs through their
    // OLD label's node (one state-sized join — the retroactive merge)
    val deltaSigned = deltaSigs
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("sig"), col("bk"),
        coalesce(col("comp"), col("doc_id")).as("label"))
    val storeUpdated = prior
      .join(cc.select(col("id").as("label"), col("comp")), Seq("label"), "left")
      .select(col("doc_id"), col("sig"), col("bk"),
        coalesce(col("comp"), col("label")).as("label"))
    val newState = storeUpdated.unionByName(deltaSigned)
    val deltaLabels = delta.select(col(idCol))
      .join(deltaSigned.select(col("doc_id").as(idCol), col("label")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("cluster_id"))
    (deltaLabels, newState)
  }
}
