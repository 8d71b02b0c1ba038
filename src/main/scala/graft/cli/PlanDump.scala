package graft.cli

import java.nio.file.{Files, Paths}

import graft.queries.Registry

/** Dumps `explain("formatted")` physical plans for headline queries to a
  * markdown file — the plan-quality evidence trail (pushdown, pruning,
  * broadcast choice, partial aggregation, codegen spans).
  *
  * Usage: PlanDump [sfDir] [outFile] [query ...]
  *
  * Named queries are dumped in place of the headline list.
  */
object PlanDump {

  val headline: Seq[String] = Seq(
    "q_mart_services",    // 4-stage narrow pipeline: filters pushed to scan
    "q1_agg",             // partial agg + pruned scan
    "q_star_join",        // broadcast star join
    "q_dedup_minhash_bands", // explode -> one md5 -> affine mins, HashAggregate
    "q_dedup_minhash_pairs", // LSH band self-join
    "q_embed_topk",       // broadcast query vector + TakeOrdered
    "q_ann_topk_graph",   // TopKByScore bounded-heap ObjectHashAggregate
    "q_embed_near_dup",   // SRP 8-bit band self-join + native dot product
    "q_k_anonymity",      // groupBy + having
    "q_sessionize",       // window functions
    "q_simhash",          // custom codegen'd expression
    "q_corpus_prepare",   // full corpus pipeline: gates -> redact -> dedup
    "q_snapshot_scd2",    // SCD-2 via window lead
    "q_rollup_agg",       // grouping sets
    "q_asof_join",        // point-in-time: tag-union + keyed window
    "q_range_join",       // bucketized interval join, no cartesian
    "q_tfidf_topk",       // tf/df aggs + broadcast vocab join + keyed top-k
    "q_bm25",             // pre-shuffle isin prune of the token stream
    "q_substring_dedup",  // 60-bit hash agg + semi-join + islands window
    "q_winnow",           // narrow shingle/hash + one keyed window
    "q_chunk_sliding",    // pure narrow explode/slice, zero shuffles
    "q_drift_psi",        // two tiny aggs + full-outer bucket join
    "q_bm25_topk",        // broadcast query set + per-query keyed top-k
    "q_bm25_indexed",     // stored postings scan, no corpus read at query time
    "q_hybrid_rrf",       // literal-explode dense leg + BM25 leg + RRF fuse
    "q_hybrid_indexed",   // stored BM25 + stored IVF legs, RRF fuse
    "q_lm_bigram",        // bigram-keyed stats joins, TfIdf-shaped aggs
    "q_target_mix",       // one keyed agg -> narrow hash-filter mix
    "q_semdedup_guarded", // capped compare set + salted within-cluster join
    "q_k_enforce_multi",  // one grouping-sets lattice probe + joint groupBy
    "q_ann_ivf_multi",    // literal centroid explode + broadcast probes + heap
    "q_shards_readback",  // file-census join over the written shards
    "q_dedup_incremental",// corpus band index vs broadcast batch bands, pruned verify
    "q_dedup_indexed",    // same through the STORED band index (parquet scans)
    "q_source_overlap",   // distinct (source, shingle) agg + bounded pair explode
    "q_global_ids",       // two-phase rank: boundary pid tree + offset broadcast
    "q_text_normalize",   // codegen'd NFC expression, pure narrow pass
    "q_bpe_ids",          // codegen'd tokenize+vocab-lookup, narrow pass
    "q_pq_codes",         // PQ encode: per-subspace literal argmin + ADC lookups
    "q_ann_ivfpq",        // probe broadcast + ADC over codes + exact re-rank of 20
    "q_quality_model",    // distilled model scoring: narrow codegen'd pass
    "q_cluster_drift",    // narrow argmin assignment + tiny per-cluster PSI
    "q_heavy_hitters",    // MG object-hash agg, then isin-pruned exact count
    "q_scd2_merge",       // bucketed snapshot store: touched-bucket merge
    "q_zorder",           // Morton z-value cluster: one range shuffle
    "q_pruned_scan",      // manifest-pruned box read over the z-layout
    "q_shards_pruned",    // self-manifesting shard store box read
    "q_hll_distinct",     // HLL: narrow hash -> partial-agg bucket max
    "q_cms_freq",         // CMS cells + broadcast sketch probe join
    "q_hdr_quantiles",    // integer log-bucket agg + tiny window cum-sum
    "q_bloom_decontam",   // codegen'd bloom prefilter above the confirm join
    "q_pagerank",         // 5 unrolled contribution-join supersteps
    "q_weighted_sample",  // E-S key + keyed window rank
    "q_l_diversity",      // two-level census agg, no distinct state
    "q_t_closeness",      // census equi-join + closed-form absent mass
    "q_dp_counts",        // groupBy + embedded-literal noise chain
    "q_reid_risk",        // one grouping-sets pass over 3 QI sets
    "q_kmv_overlap",      // bounded KMV agg + alphabet pair grid
    "q_l_enforce",        // diversity-ladder probe + chosen-rung groups
    "q_dp_sums",          // clamped sum + literal-array noise lookup
    "q_ssjoin",           // df agg + prefix explode join + verify join
    "q_decontam_pairs",   // two-table prefix filter, union-wide token order
    "q_join_size_est",    // two sketch aggs + 4096-cell dot product
    "q_record_linkage",   // block equi-join + codegen'd levenshtein, top-100
    "q_anomaly",          // hourly agg + range-frame window scoring
    "q_anomaly_seasonal", // same, framed over epoch-days per hour-of-day
    "q_anomaly_serving",  // day-pruned store read + identical window
    "q_attribution",      // watermark-shaped time-range join (batch twin)
    "q_dp_quantiles",     // HDR sketch + embedded noise chain + cum pick
    "q_pct_rank",         // sketch cum-dist broadcast join (+ exact audit)
    "q_bpe_learn",        // vocab pair-count iterations, argmax-driven
    "q_ssjoin_indexed",   // stored dfreq/postings/sets probe, corpus never read
    "q_changepoint",      // totals + ordered cumsum + rank, window algebra
    "q_pca_cov",          // fixed-point moment pass, map-side-combined
    "q_pca_serving",      // merged per-batch moment sketches
    "q_lineage",          // plan-walk report: LocalRelation, zero jobs
    "q_geo_join",         // 3x3 modular-cell probe + haversine verify
    "q_jaro_linkage",     // block equi-join + codegen'd jaro-winkler
    "q_feature_hash",     // md5 lane/sign explode + combined agg
    "q_erasure",          // bucketed store minus victims, read-back
    "q_rotate_pseudonyms",// broadcast mapping join-replace
    "q_retention_ttl",    // day-partition store read-back post-expiry
    "q_pii_lineage",      // plan-walk PII exposure report, zero jobs
    "q_lineage_join",     // cross-table provenance through the star join
    "q_erasure_indexes",  // BM25 store purge + stats decrement, then serve
    "q_erasure_exact",    // prefix-index purge, frozen-order probe
    "q_image_phash",      // mapPartitions raster decode -> 64-bit hashes
    "q_image_near_dup",   // quarter-block hamming pairs over aHash
    "q_audio_fingerprint",// WAV decode -> envelope-sign hash
    "q_image_clusters",   // pointer-jumping CC over perceptual pairs
    "q_agg_store",        // materialized-aggregate store build + serve
    "q_agg_store_erase",  // store build + exact-subtraction erase + rebuilt serve
    "q_video_near_dup",   // y4m multi-keyframe dHash + hash-equality set overlap
    "q_fsck",             // two index builds + fused single-pass invariant probes
    "q_release_cert",     // validator compose + zero-job lineage/method bits
    "q_mondrian",         // rank-split rounds: early range-partitioned rank
    "q_mondrian_ldiv",    // same + candidate-side diversity guard
    "q_mondrian_tclose",  // same + integer-exact TVD guard vs global dist
    "q_mondrian_geo",     // spatial envelopes over service coordinates
    "q_rectify",          // BM25 store in-place rectification, then serve
    "q_fsck_stores",      // dense/shards/snapshot builds + fused audits
    "q_compact_serve",    // build + append + COMPACT the BM25 store, serve
    "q_mixture_budget",   // range-partitioned running sum + offsets broadcast
    "q_curate_e2e",       // the six-stage composed curation pipeline
    "q_erase_logical",    // deletion-vector mask between scoring and ranking
    "q_dp_budget",        // ledger composition over content-addressed charges
    "q_consent_gate",     // SCD-2 registry merges + the opt-in semi-join
    "q_consent_dp_release", // consent gate -> DP release -> ledger charge
    "q_consent_purpose",  // purpose-scoped vs global vector masks, two serves
    "q_consent_asof",     // validity-interval anti-join retro audit
    "q_erase_by_subject", // owner-mapping resolve + masked serve
    "q_consent_stream",   // consent-gated streaming admission + retro audit
    "q_dv_compact",       // compacted vector trees, two masked serves
    "q_access_consent",   // Art. 15 disclosure: consent history + admissions
    "q_consent_expire",   // bucket-pruned registry version retention
    "q_dead_letter"       // quarantine split -> corrected resubmit -> serve
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out   = if (args.length > 1) args(1) else "docs/PLANS.md"
    val names = if (args.length > 2) args.drop(2).toSeq else headline
    val spark = graft.Session("graft-plandump")

    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.cli.PlanDump)\n\n")
    sb.append(s"Source: `$sfDir`. Regenerate with " +
      "`sbt \"runMain graft.cli.PlanDump\"`.\n")
    names.foreach { name =>
      val df = Registry.all(name).fn(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
