package graft

/** Measured scale-up check: the same operators, the same generator, two
  * volumes 10× apart — does runtime grow ~linearly (the 100 TB design
  * claim) or worse?
  *
  * The driver's testdata tops out at sf0.1, so scale claims beyond that
  * were plan-reading until this harness: it generates distribution-
  * matched 1× and 10× slices of documents/events/embeddings
  * (etl.DataGen.writeScaleSlice — same vocab, lengths, dup rates, user
  * scaling), runs the hottest document/event/embedding operators on
  * both, and prints one JSON line with per-query seconds and the
  * 10×/1× runtime ratio. A sub-11× ratio on a 10× volume is linear
  * scaling within noise (the constant per-query overhead — session,
  * planning, tiny dims — dilutes, so ratios usually land UNDER 10).
  *
  * Generated slices are a measurement rig only — correctness oracles
  * always run on the driver's own testdata.
  *
  * Usage: Test/runMain graft.ScaleCheck [workDir] [mult] [reps] [q1,q2,…]
  * (the optional 4th arg restricts the measured set — used for the
  * 30×+ confirmation slices where running all twelve would take hours)
  *
  * The sentinel 4th arg `suite` measures EVERY SparkEntry query that
  * runs on the generated slice (the slice carries only
  * documents/events/embeddings, so relational-table queries are probed
  * out on the 1× slice and named in the output — no silent drops).
  * This is the whole-suite scale datapoint: the driver's bench runs at
  * sf0.1, so `suite` at mult=10 is the full extension surface at
  * sf1-equivalent volume.
  */
object ScaleCheck {

  // The measured set: the operators that dominate BENCH totals and whose
  // cost is driven by the scaled tables (documents/events/embeddings).
  // Memory-sink streaming replays are excluded — their micro-batch
  // scheduling floor is constant-dominated at these volumes and the
  // underlying operators' batch twins are all here. The two
  // foreachBatch replays (x91/x105) ARE measured: their sinks are
  // distributed parquet, so a 10× slice answers whether redelivery +
  // versioned-merge cost tracks volume (expected: yes, linearly in the
  // staged files) rather than hitting a state cliff.
  private val Hot = Seq(
    // one-pass document scans reshaped in r16 (fused compiled
    // expressions replacing per-signal regex/HOF walks); x10/x37/x38/
    // x45 re-measure under the scan-family adjudication, while x42/x73
    // are adjudicated under the GRAM-SHUFFLE family below (their cost
    // axis is 8-gram mass through keyed aggregates, not scan bytes)
    "x10_text_token_stats",
    "x37_text_redaction",
    "x38_text_repetition",
    "x42_boilerplate",
    "x45_tokenizer_fertility",
    "x73_boilerplate_spans",
    "x03_dedup_minhash",
    "x04_dedup_simhash",
    "x05_dedup_ngram_jaccard",
    "x06_dedup_embedding",
    "x14_text_fingerprints",
    "x17_events_sessionize",
    "x28_sim_topk_ivf",
    "x29_events_asof_native",
    "x34_contamination",
    // x159 shares x03's minhash candidate machinery verbatim; carried
    // so the cross-boundary restriction is measured, not assumed
    "x159_fuzzy_contamination",
    "x43_dup_clusters",
    "x50_source_overlap",
    "x66_tfidf_terms",
    "x79_split_leakage",
    "x88_global_rank",
    "x91_stream_idempotent_sink",
    "x96_dedup_canonical",
    "x98_novelty",
    "x104_cluster_source_matrix",
    "x105_stream_incremental_agg",
    "x107_oov_audit",
    "x108_importance",
    "x109_semdedup",
    "x110_quant_audit",
    "x111_curriculum",
    "x157_media_perceptual_dedup",
    "x160_audio_perceptual_dedup",
    "x162_color_perceptual_dedup",
    "x163_perceptual_incremental",
    "x112_dedup_recall_audit",
    "x113_mix_plan",
    "x164_training_shards",
    "x114_outlier_audit",
    "x115_span_dedup",
    "x116_stream_enrich",
    "x117_scd2_intervals",
    "x118_mask_plan",
    "x120_bucketed_join",
    "x121_publish_audit",
    "x122_pit_attribution",
    "x123_curation_fused",
    "x124_dedup_incremental_near",
    "x125_perplexity_filter",
    "x126_leakfree_splits",
    "x127_compaction_roundtrip",
    // x128 is the ~linear-assignment claim itself; x129 carries the
    // exact N·nlist reference computation but SAMPLE-BOUNDED (r15:
    // ~2048 salted hash-sampled vectors, sizes in-band), so its ratio
    // now tracks the training+probe cost, not N^1.5
    "x128_sem_assign_approx",
    "x129_sem_assign_audit",
    "x130_compaction_incremental",
    "x131_fluency_external",
    // x133 sweeps the x128 probe widths on the same audit sample as
    // x129 — expect near-x129 ratios, the widths adding only bounded
    // cosine mass on top
    "x133_sem_probe_sweep",
    // manifest-layout maintenance: cost ∝ table bytes written/read
    // through the layout (append + commit + snapshot/delta scan)
    "x134_manifest_time_travel",
    "x135_manifest_diff_read",
    // x136's corpus pass is one scan+word-count (linear); the merge
    // iterations run on the VOCAB-bounded table, whose size grows
    // sublinearly in corpus volume (Heaps' law) — expect ≈ scan growth
    "x136_bpe_merges",
    // x137 shuffles unigram+bigram counts (linear in token mass) and
    // broadcasts the vocab-bounded marginals — the x47/x125 family shape
    "x137_pmi_collocations",
    // x138 re-runs x136's vocab-bounded training then applies each rule
    // as a broadcast 1-row join over the per-source vocab — expect the
    // x136 shape (corpus scan linear, merge work Heaps-sublinear)
    "x138_bpe_encode_audit",
    // x139 is brute-force on BOTH representations (it is the audit —
    // the production win is the 4× cheaper distance, not candidate
    // pruning): expect linear in corpus size at fixed |Q|, the x07/x08
    // fixed-query-set constant
    "x139_projection_recall",
    // x155 is the same two-representation brute-force audit for the
    // int8 serving rung — the x139 shape, expect the same fixed-|Q|
    // linear constant
    "x155_quant_serving",
    // x140's corpus cost is the postings build (linear in token mass)
    // plus a fixed-|Q| term-keyed candidate join whose pair count grows
    // with the df of the query's terms — linear at fixed |Q|
    "x140_bm25_retrieval",
    // x141 re-runs both rankers (BM25 postings + dense brute force) and
    // fuses constant-size frames — expect the sum of the two linear
    // ranker costs, fusion itself O(|Q|·depth)
    "x141_hybrid_rrf",
    // x142's corpus work is the fixed-|Q| brute candidate scan (the
    // x07/x139 linear constant); the unrolled MMR rounds touch only
    // pool-sized frames, so expect scan-growth-only ratios
    "x142_mmr_diversify",
    // x143's corpus work is the orders⋈lineitem edge build; each sweep
    // is one keyed join over the (distinct-pair-bounded) edge list —
    // expect ~linear in edge mass
    "x143_pagerank_supply",
    // x144 runs 2 corpus passes per power step over the cached exploded
    // table (C·v, never C) — expect linear in vector count, constant
    // per-step frames (64-row direction broadcasts)
    "x144_spectral_audit",
    // x145's cost is the append write + merged scan; delete commits
    // write only key files and the merge is a broadcast anti-join —
    // expect ~linear in table bytes through the layout (x134/x135 shape)
    "x145_equality_delete_read",
    // x146 re-runs the x141 rankers then attaches labels to the
    // broadcast ≤|Q|·k frame — expect the x141 ratio plus one keyed
    // corpus pass over embeddings
    "x146_retrieval_eval",
    // x147 streams the events table as 4 CDC batches: per trigger the
    // work is batch-sized plus one merged-snapshot join keyed on
    // user_id, plus the final fold — expect ~linear in event volume
    // with the micro-batch floor diluting
    "x147_stream_upsert_mor",
    // x148 pays the zoned write (range shuffle + one stats pass) once;
    // the pruned READ cost is bounded by the matching files, so the
    // ratio tracks the write, not the scan — ~linear in table bytes
    "x148_zone_pruned_read",
    // x149 tokenizes the v1 snapshot + the append delta (together one
    // corpus pass) and folds vocab-bounded partials — expect ~linear
    // in token mass, the x48/x66 family shape
    "x149_incremental_index",
    // manifest-layout lifecycle ops (r15): restore re-commits an entry
    // SET (metadata-only on top of the appends), history parses the
    // retained manifests (metadata-only), merge writes keys + rows and
    // reads merged — all ∝ table bytes through the layout, the
    // x134/x135 shape
    "x151_manifest_restore",
    "x152_manifest_history",
    "x153_manifest_merge",
    // x156 is two appends + one delete commit + a merged read whose
    // union is plan-time schema reconciliation — the x134/x135 shape
    // (cost ∝ table bytes through the layout), no extra data pass
    "x156_manifest_schema_evolution")
  // Since round 12 the slices carry the FULL catalog (documents/events/
  // embeddings plus region/nation/supplier/customer/part/orders/
  // lineitem), so the relational q-series and x77/x80 join the suite-
  // mode measured set via the probe run instead of being exclusions.

  /** Machine-readable MASS-FAMILY membership (r18 verdict task 2):
    * every query whose 10×/100× wall ratio can exceed the flat-cost
    * band (> [[AdjudicationRatioFloor]]) must belong to exactly one
    * family here, and each family's emitter prints its measured mass
    * axis on BOTH slices into the stamp — so a high ratio is always
    * readable against the work mass that explains it, in-artifact,
    * never in prose. ScaleFamilySpec parses the committed stamps and
    * asserts the coverage, so "no silent shapes" is checked by code. */
  private[graft] val MassFamilies: Map[String, Seq[String]] = Map(
    // one hash-pair row per 8-gram through keyed aggregates + join back
    "gram_shuffle" -> Seq("x42_boilerplate", "x50_source_overlap",
      "x73_boilerplate_spans", "x98_novelty", "x115_span_dedup"),
    // distributed-sink replays: cost ∝ rows-through-sink, fixed triggers
    "stream_replay" -> Seq("x91_stream_idempotent_sink",
      "x105_stream_incremental_agg", "x147_stream_upsert_mor"),
    // pure per-row codegen scans: cost axis is input mass (chars/rows)
    "one_pass_scans" -> Seq("x10_text_token_stats", "x14_text_fingerprints",
      "x20_media_stats", "x21_media_features",
      // x22: decode + fixed-stride frame sample per media — payload
      // (char) mass is the only corpus-scale work
      "x22_media_frame_sample", "x37_text_redaction",
      "x38_text_repetition", "x45_tokenizer_fertility",
      // x60: stateless scan-level Bernoulli filter on quality signals
      // computed per char — no shuffle before selection (PlanSpec)
      "x60_sample_quality_weighted", "x84_audio_frames",
      "x110_quant_audit", "x149_incremental_index",
      "x157_media_perceptual_dedup", "x160_audio_perceptual_dedup",
      "x162_color_perceptual_dedup",
      // x164: one token-count scan; everything past the quota cut
      // (selection, packing, sharding, publish) is budget-bounded and
      // does NOT grow with the corpus
      "x164_training_shards"),
    // capped-LSH candidate pairs through the shared x03 machinery
    "minhash_candidates" -> Seq("x03_dedup_minhash",
      "x106_minhash_threshold_sweep", "x124_dedup_incremental_near",
      "x159_fuzzy_contamination"),
    // exploded word-8-gram occurrences through overlap joins
    "overlap_grams" -> Seq("x34_contamination", "x79_split_leakage"),
    // distinct (doc, bigram) rows through the LM joins
    "lm_join" -> Seq("x125_perplexity_filter", "x131_fluency_external"),
    // table bytes written/read through the manifest layout
    "manifest_layout" -> Seq("x127_compaction_roundtrip",
      "x130_compaction_incremental", "x134_manifest_time_travel",
      "x135_manifest_diff_read", "x145_equality_delete_read",
      "x148_zone_pruned_read", "x151_manifest_restore",
      "x152_manifest_history", "x153_manifest_merge",
      "x156_manifest_schema_evolution"),
    // delta-vs-published-snapshot: steady-state cost axis is the DELTA
    // payload mass (the in-query snapshot rebuild is the same decode
    // scan x157 pays — both masses stamped)
    "incremental_delta" -> Seq("x163_perceptual_incremental"),
    // fixed-|Q| LSH: candidate pairs grow ∝ N by design
    "lsh_candidates" -> Seq("x08_sim_topk_lsh"),
    // champion-list nomination saturates at the per-term cap
    "bm25_candidates" -> Seq("x140_bm25_retrieval"),
    // hierarchical probe: fine-cosine mass is N^1.25 by design
    "sem_probe" -> Seq("x128_sem_assign_approx", "x129_sem_assign_audit",
      "x133_sem_probe_sweep"))

  /** Ratios above this need a family mass line (the r17/r18 verdict
    * reading band: <5 is flat-cost dilution, >5 needs an axis). */
  private[graft] val AdjudicationRatioFloor = 5.0

  private[graft] lazy val familyOf: Map[String, String] =
    MassFamilies.flatMap { case (f, qs) => qs.map(_ -> f) }

  /** Queries whose stamp ratio exceeds the floor but belong to NO mass
    * family — the silent-shape set that must be empty (spec-asserted
    * against the committed SCALE stamps). */
  private[graft] def unadjudicated(ratios: Map[String, Double],
      threshold: Double = AdjudicationRatioFloor): Seq[String] =
    ratios.collect {
      case (q, r) if r > threshold && !familyOf.contains(q) => q
    }.toSeq.sorted

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/root/repo/tmp/scalecheck")
    val mult = if (args.length > 1) args(1).toInt else 10
    val reps = if (args.length > 2) args(2).toInt else 2
    val suiteMode = args.length > 3 && args(3) == "suite"
    val measured =
      if (suiteMode) Nil // resolved after the slices exist (probe needs them)
      else if (args.length > 3) {
        // fail loudly on names outside the Hot set — the intersection
        // silently dropped a misspelled/unlisted query once (x127's
        // first 100× attempt measured 2 of 3 asked queries with an
        // empty `excluded`), which is exactly the silent-cap class the
        // house rule bans
        val asked = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = asked -- Hot.toSet
        require(unknown.isEmpty,
          s"not in the ScaleCheck Hot set: ${unknown.mkString(", ")} — " +
            "add the query to Hot (with a scale rationale) or run `suite`")
        Hot.filter(asked)
      }
      else Hot
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val dir1 = s"$workDir/x1"
    val dirN = s"$workDir/x$mult"
    // both slices from the SAME generator so the ratio isolates volume —
    // comparing driver sf0.1 to a generated slice would confound
    // generator differences with scaling
    if (!new java.io.File(s"$dir1/documents.parquet").exists())
      etl.DataGen.writeScaleSlice(spark, dir1, 1)
    if (!new java.io.File(s"$dirN/documents.parquet").exists())
      etl.DataGen.writeScaleSlice(spark, dirN, mult)

    // Rig symmetry (verdict r12 item 4): the publish-once artifacts
    // (CC cluster table, SemDeDup keep-list) used to get pre-built on
    // the 1× slice only — by the suite-mode probe pass — so the first
    // CONSUMER in sorted order on the N× slice (x104 in the r12 100×
    // run, ratio 20.26 vs steady-state 1.55) was billed the whole
    // owner build in its numerator. Pre-build them on BOTH slices,
    // untimed, before any measurement: owners (x43/x109) still rebuild
    // honestly inside their own timings, consumers read steady-state
    // on both sides of the ratio.
    val publishOwners =
      Seq("x43_dup_clusters", "x109_semdedup").filter(SparkEntry.queries.contains)
    for (d <- Seq(dir1, dirN); q <- publishOwners) {
      try {
        SparkEntry.queries(q)(spark, d)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      } catch { case _: Throwable => spark.catalog.clearCache() }
    }

    def run(dir: String, name: String, repsOverride: Int = 0): Double = {
      val r = if (repsOverride > 0) repsOverride else reps
      val times = (1 to r).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // the noop sink consumed the frame — reclaim the rep's manifest
        // scratch now; 10×/100× slices otherwise stack a full table copy
        // per rep on disk until JVM exit
        graft.etl.Sources.sweepNonceRoots()
        dt
      }
      times.min
    }

    // suite mode: every query that RUNS on the 1× slice (since round 12
    // the slice carries the full relational catalog, so this should be
    // everything; anything that still fails its scan is excluded BY
    // NAME — a probe run, not a hand-kept list, so new queries join the
    // measured set automatically)
    val (suiteSet, probedOut) =
      if (!suiteMode) (measured, Nil)
      else {
        val probed = SparkEntry.queries.keys.toSeq.sorted.map { name =>
          val ok =
            try {
              SparkEntry.queries(name)(spark, dir1)
                .write.format("noop").mode("overwrite").save()
              spark.catalog.clearCache()
              true
            } catch { case _: Throwable => spark.catalog.clearCache(); false }
          (name, ok)
        }
        (probed.collect { case (n, true) => n },
         probed.collect { case (n, false) => n })
      }
    val finalSet = if (suiteMode) suiteSet else measured
    require(finalSet.nonEmpty,
      s"no measurable queries — the 4th arg must name Hot-set queries (${Hot.mkString(", ")}) or `suite`")

    // warmup on the small slice
    run(dir1, finalSet.head)

    // suite mode at 10×: a memory-sink replay can legitimately trip its
    // 1M-row driver cap on a volume the harness was never sized for —
    // record the failure by name and keep measuring (no silent drops)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = finalSet.flatMap { name =>
      try {
        val t1 = run(dir1, name)
        val tN = run(dirN, name)
        Some((name, t1, tN, tN / t1))
      } catch {
        case _: Throwable if suiteMode => failed += name; None
      }
    }
    val qjson = rows.map { case (n, t1, tN, r) =>
      f""""$n":{"t1":$t1%.3f,"t$mult":$tN%.3f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    val worst = rows.maxBy(_._4)
    val excluded = (probedOut.map("\"" + _ + "\"") ++ failed.map("\"" + _ + "\""))
      .mkString("[", ",", "]")
    val totals = f""""t1_total":${rows.map(_._2).sum}%.1f,"t${mult}_total":${rows.map(_._3).sum}%.1f"""
    println(s"""{"metric":"scale_ratio_p50","value":${median(rows.map(_._4))},"mult":$mult,"reps":$reps,"n_measured":${rows.size},"excluded":$excluded,$totals,"worst":"${worst._1}","worst_ratio":${f"${worst._4}%.2f"},"queries":$qjson}""")
    // In-band x08 adjudication (verdict r12 item 8): its ratio tracks
    // the corpus because |Q| is FIXED and LSH candidates grow ∝ N by
    // design — a linear constant, not a superlinear plan. The artifact
    // carries the defense itself: exact candidate mass on both slices
    // (expected ratio ≈ mult) plus a reps=2 steady-state re-reading,
    // the same second-line pattern that adjudicated x104 in r12.
    if (rows.exists(_._1 == "x08_sim_topk_lsh")) {
      val c1 = ext.Similarity.lshCandidateMass(spark, dir1)
      spark.catalog.clearCache()
      val cN = ext.Similarity.lshCandidateMass(spark, dirN)
      spark.catalog.clearCache()
      val t1 = run(dir1, "x08_sim_topk_lsh", 2)
      val tN = run(dirN, "x08_sim_topk_lsh", 2)
      println(f"""{"metric":"scale_adjudication","query":"x08_sim_topk_lsh","reps":2,"t1":$t1%.3f,"t$mult%d":$tN%.3f,"ratio":${tN / t1}%.2f,"candidates_t1":$c1%d,"candidates_t$mult%d":$cN%d,"candidate_ratio":${cN.toDouble / c1}%.2f,"note":"fixed |Q|: candidate pairs grow with corpus size by design, runtime tracks candidate mass; the growing-|Q| rung is x28 IVF"}""")
    }
    // x140 adjudication (r15): champion lists bound each term's
    // nomination fan-out to ChampM, so candidate mass must SATURATE
    // once per-term df crosses the cap — the artifact carries the
    // measured mass on both slices (expected ratio well under mult on
    // slices past the cap; the uncapped design grew runtime 8× at
    // 100× volume).
    if (rows.exists(_._1 == "x140_bm25_retrieval")) {
      val c1 = ext.Retrieval.bm25CandidateMass(spark, dir1)
      spark.catalog.clearCache()
      val cN = ext.Retrieval.bm25CandidateMass(spark, dirN)
      spark.catalog.clearCache()
      println(f"""{"metric":"scale_adjudication","query":"x140_bm25_retrieval","candidates_t1":$c1%d,"candidates_t$mult%d":$cN%d,"candidate_ratio":${cN.toDouble / c1}%.2f,"note":"champion-list nomination: per-term fan-out capped at ChampM, so candidate mass saturates once df crosses the cap"}""")
    }
    // x128 adjudication (r16): the hierarchical assignment is N^1.25
    // BY DESIGN (per-vector fine candidates ~ probes·√nlist with
    // nlist = √N), so its super-linear ratio is data mass, not plan
    // shape — the artifact carries the measured fine-cosine mass on
    // both slices so the runtime ratio can be read against it.
    val semFamily = MassFamilies("sem_probe")
    if (rows.exists(r => semFamily.contains(r._1))) {
      val c1 = ext.Similarity.semProbeCandidateMass(spark, dir1)
      spark.catalog.clearCache()
      val cN = ext.Similarity.semProbeCandidateMass(spark, dirN)
      spark.catalog.clearCache()
      val present = semFamily.filter(q => rows.exists(_._1 == q))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(f"""{"metric":"scale_adjudication","family":"sem_probe","queries":$present,"fine_cos_t1":$c1%d,"fine_cos_t$mult%d":$cN%d,"mass_ratio":${cN.toDouble / c1}%.2f,"note":"hierarchical probe is N^1.25 by design (per-vector fine candidates ~ probes*sqrt(nlist), nlist = sqrt(N)); x129 carries the sample-bounded exact reference and x133 sweeps probe widths on the same sample — runtime must track the fine-cosine mass; the exact path it replaces is N^1.5"}""")
    }
    // gram-shuffle family adjudication (r16): these ops shuffle one
    // hash-pair row per 8-gram (x98 per OCCURRENCE through the
    // first-owner aggregate + join back; x42/x73 per gram through the
    // df aggregate + semi-join back, x73 additionally per hot
    // occurrence into the doc-keyed coverage aggregate; x50's overlap
    // matrix shares the axis). The 50-byte string shuffle keys were
    // fixed in r15/r16 (hash pairs); what remains is the mass itself —
    // carried here so the reading is in-artifact: runtime must track
    // gram mass (~token volume), never outgrow it.
    // x115 rides the same axis with a 60-bit md5-prefix key — that md5
    // IS oracle-replayed (the x03/x04 portable-hash trade), so unlike
    // x42/x73/x98 it cannot swap to salted xxhash64
    val gramFamily = MassFamilies("gram_shuffle")
    if (rows.exists(r => gramFamily.contains(r._1))) {
      val c1 = ext.TextAnalysis.noveltyGramMass(spark, dir1)
      spark.catalog.clearCache()
      val cN = ext.TextAnalysis.noveltyGramMass(spark, dirN)
      spark.catalog.clearCache()
      val present = gramFamily.filter(q => rows.exists(_._1 == q))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(f"""{"metric":"scale_adjudication","family":"gram_shuffle","queries":$present,"grams_t1":$c1%d,"grams_t$mult%d":$cN%d,"gram_ratio":${cN.toDouble / c1}%.2f,"note":"one hash-pair row per 8-gram through the keyed aggregates and the join back (x50's overlap matrix shares this axis); runtime must track gram mass (~token volume), never outgrow it. x73 (r18) and x98 (r19) winnow the positional stream doc-locally first and pay ~2/(w+1)=22 pct of this mass — their ratios should sit well UNDER the family line. x115 shares the AXIS but not the key scheme (60-bit md5-prefix span keys, not salted xxhash64 pairs), so the gram-mass datum is an approximate axis for it"}""")
    }
    // stream-replay family adjudication (r17): the foreachBatch
    // replays write to DISTRIBUTED sinks — x91 overwrites per-batch
    // parquet dirs (and redelivers the WHOLE stream a second time:
    // 2x sink mass by design), x105 folds versioned parquet state
    // (1x), x147 commits delete+append pairs into the manifest table
    // (1x, plus a per-trigger merged-snapshot join) — not through
    // runToMemory's driver-memory harness (that cap guards the
    // bounded window/session replays only). Their cost axis is
    // rows-through-sink plus a FIXED trigger count (4 staged files →
    // 4 micro-batches at any volume, so per-trigger scheduling,
    // checkpoint fsync, and manifest-commit constants DILUTE as the
    // slice grows; sub-mult ratios are the expected reading).
    val replayFamily = MassFamilies("stream_replay")
    if (rows.exists(r => replayFamily.contains(r._1))) {
      val m1 = streaming.EventStreams.replaySinkMass(spark, dir1)
      val mN = streaming.EventStreams.replaySinkMass(spark, dirN)
      val present = replayFamily.filter(q => rows.exists(_._1 == q))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(f"""{"metric":"scale_adjudication","family":"stream_replay","queries":$present,"sink_rows_t1":$m1%d,"sink_rows_t$mult%d":$mN%d,"sink_mass_ratio":${mN.toDouble / m1}%.2f,"note":"distributed sinks (x91 per-batch parquet overwrite at 2x mass - full redelivery; x105 versioned parquet state; x147 manifest delete+append commits), NOT the driver-memory replay harness; trigger count is fixed at 4 staged files per delivery, so per-trigger scheduling/fsync/commit constants dilute with volume and runtime must track sink-row mass"}""")
    }
    // scan-family adjudication (r16): the pure one-pass per-row scans
    // post the suite's HIGHEST ratios precisely because their t1 is
    // session-overhead-dominated (<~0.5 s) — the cost axis is input
    // mass, mult× by construction, so a >10× reading there is t1
    // dilution, not plan shape. Carried in-artifact with the measured
    // masses so the attribution is a datum, not prose.
    // x157/x160: decode/resize/hash are the same documents-derived
    // per-row scan; the banded pair joins shuffle only 8-byte
    // signatures and are bucket-capped (hot buckets escalate on finer
    // sub-keys, still signature-only rows), so char mass stays the axis
    val scanFamily = MassFamilies("one_pass_scans")
    if (rows.exists(r => scanFamily.contains(r._1))) {
      import org.apache.spark.sql.functions.{col, length, sum}
      def chars(d: String): Long = graft.Tables.load(spark, d, "documents")
        .agg(sum(length(col("text"))).cast("long")).head().getLong(0)
      def vecs(d: String): Long =
        graft.Tables.load(spark, d, "embeddings").count()
      val (c1, cN) = (chars(dir1), chars(dirN))
      val (v1, vN) = (vecs(dir1), vecs(dirN))
      val present = scanFamily.filter(q => rows.exists(_._1 == q))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(f"""{"metric":"scale_adjudication","family":"one_pass_scans","queries":$present,"doc_chars_t1":$c1%d,"doc_chars_t$mult%d":$cN%d,"char_ratio":${cN.toDouble / c1}%.2f,"emb_rows_t1":$v1%d,"emb_rows_t$mult%d":$vN%d,"note":"pure per-row codegen scans over documents/embeddings (media decode is documents-derived; x149's base rebuild is the same tokenize-scan mass plus a delta-sized fold): cost axis is input mass, mult-x by construction — a high ratio here reads t1 overhead dilution, with per-row cost flat or falling"}""")
    }
    // minhash-candidate family (r18 verdict task 2): x03/x106/x124/x159
    // all ride the SHARED minhashCandidates machinery — their cost axis
    // is the capped-LSH candidate-pair count (plus the corpus-linear
    // shingle pass), so the measured pair mass on both slices is the
    // family's reading key.
    val minhashFamily = MassFamilies("minhash_candidates")
    if (rows.exists(r => minhashFamily.contains(r._1))) {
      val c1 = ext.Dedup.minhashCandidateMass(spark, dir1)
      spark.catalog.clearCache()
      val cN = ext.Dedup.minhashCandidateMass(spark, dirN)
      spark.catalog.clearCache()
      val present = minhashFamily.filter(q => rows.exists(_._1 == q))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(f"""{"metric":"scale_adjudication","family":"minhash_candidates","queries":$present,"cand_pairs_t1":$c1%d,"cand_pairs_t$mult%d":$cN%d,"cand_ratio":${cN.toDouble / c1}%.2f,"note":"all four queries consume the shared capped-LSH candidate machinery (x106 sweeps thresholds over the same pairs, x124/x159 restrict to cross-boundary pairs): runtime must track candidate-pair mass plus the corpus-linear shingle scan"}""")
    }
    // overlap-gram family (r18 verdict task 2): x34/x79 explode word
    // 8-grams and join them across a boundary (benchmark / split) —
    // cost axis is the exploded 8-gram occurrence mass.
    val overlapFamily = MassFamilies("overlap_grams")
    if (rows.exists(r => overlapFamily.contains(r._1))) {
      val c1 = ext.Contamination.overlapGramMass(spark, dir1)
      spark.catalog.clearCache()
      val cN = ext.Contamination.overlapGramMass(spark, dirN)
      spark.catalog.clearCache()
      val present = overlapFamily.filter(q => rows.exists(_._1 == q))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(f"""{"metric":"scale_adjudication","family":"overlap_grams","queries":$present,"grams_t1":$c1%d,"grams_t$mult%d":$cN%d,"gram_ratio":${cN.toDouble / c1}%.2f,"note":"one exploded row per word 8-gram occurrence through the overlap joins (x34 vs the benchmark set, x79 test-vs-train semi-join): runtime must track gram mass (~token volume), never outgrow it"}""")
    }
    // LM-join family (r18 verdict task 2): x125/x131 shuffle one row
    // per DISTINCT (doc, bigram) into the LM joins; the LM tables stay
    // vocab-bounded — the distinct doc-bigram row count is the axis.
    val lmFamily = MassFamilies("lm_join")
    if (rows.exists(r => lmFamily.contains(r._1))) {
      val c1 = ext.TextAnalysis.lmJoinRowMass(spark, dir1)
      spark.catalog.clearCache()
      val cN = ext.TextAnalysis.lmJoinRowMass(spark, dirN)
      spark.catalog.clearCache()
      val present = lmFamily.filter(q => rows.exists(_._1 == q))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(f"""{"metric":"scale_adjudication","family":"lm_join","queries":$present,"doc_bigrams_t1":$c1%d,"doc_bigrams_t$mult%d":$cN%d,"bigram_ratio":${cN.toDouble / c1}%.2f,"note":"per-(doc,bigram) pre-aggregation with map-side combine is the only token-mass shuffle; the LM-side tables are vocab-bounded (Heaps-sublinear), so runtime must track distinct doc-bigram mass"}""")
    }
    // incremental-delta family (r18 verdict task 5): x163's steady-
    // state cost is the DELTA decode+hash plus a signature-table read;
    // the in-query snapshot publish is the x157-shaped decode scan.
    // Both masses stamped so the reading carries its own split.
    val deltaFamily = MassFamilies("incremental_delta")
    if (rows.exists(r => deltaFamily.contains(r._1))) {
      import org.apache.spark.sql.functions.{coalesce, col, length, lit, sum}
      def imgChars(d: String, deltaOnly: Boolean): Long = {
        val base = graft.Tables.load(spark, d, "documents")
          .filter(col("doc_id") % 3 === 0)
        (if (deltaOnly) base.filter(col("doc_id") % 2 === 1) else base)
          .agg(coalesce(sum(length(col("text"))).cast("long"), lit(0L)))
          .head().getLong(0)
      }
      val (d1, dN) = (imgChars(dir1, deltaOnly = true), imgChars(dirN, deltaOnly = true))
      val (a1, aN) = (imgChars(dir1, deltaOnly = false), imgChars(dirN, deltaOnly = false))
      val present = deltaFamily.filter(q => rows.exists(_._1 == q))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(f"""{"metric":"scale_adjudication","family":"incremental_delta","queries":$present,"delta_chars_t1":$d1%d,"delta_chars_t$mult%d":$dN%d,"delta_ratio":${dN.toDouble / d1}%.2f,"img_chars_t1":$a1%d,"img_chars_t$mult%d":$aN%d,"note":"delta-vs-published-snapshot near-dup: steady-state cost is the delta decode+hash (delta char mass) plus an 8-byte-signature table read; the harness rebuilds the snapshot in-query (img char mass, the x157 decode scan) because nonce scratch is swept per rep"}""")
    }
    // manifest-layout family (r18 verdict task 2): the lifecycle ops
    // (append/compact/restore/merge/history/zone/delete/evolve) all
    // move the documents table through the layout — cost axis is the
    // table's payload bytes.
    val manifestFamily = MassFamilies("manifest_layout")
    if (rows.exists(r => manifestFamily.contains(r._1))) {
      import org.apache.spark.sql.functions.{col, octet_length, sum}
      def tableBytes(d: String): Long = graft.Tables.load(spark, d, "documents")
        .agg(sum(octet_length(col("text"))).cast("long")).head().getLong(0)
      val (b1, bN) = (tableBytes(dir1), tableBytes(dirN))
      val present = manifestFamily.filter(q => rows.exists(_._1 == q))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      println(f"""{"metric":"scale_adjudication","family":"manifest_layout","queries":$present,"table_bytes_t1":$b1%d,"table_bytes_t$mult%d":$bN%d,"byte_ratio":${bN.toDouble / b1}%.2f,"note":"every query appends and re-reads the documents table through the manifest layout (x151 restores a full entry set, x152 parses retained manifests — metadata-only, bounded above by this axis): runtime must track table payload bytes, with per-commit constants diluting as the slice grows"}""")
    }
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
