package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural assertions on physical plans — the scale properties that
  * must survive a 100×/1000× data increase: broadcast joins for dims,
  * parquet filter pushdown, partial aggregation, whole-stage codegen,
  * and top-k via TakeOrderedAndProject instead of global sort.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q05 star join broadcasts every dimension (no shuffle of the fact side)") {
    val p = plan("q05_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q01 pushes the shipdate filter into the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q01 scan prunes to the referenced columns only") {
    val p = plan("q01_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"))
  }

  test("q02 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q02_top_parts")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q01 aggregation is two-phase (map-side partial before shuffle)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("q89 deltaSum is a two-phase object aggregate, not a window sort") {
    val p = plan("q89_delta_sum_aggregate")
    assert(p.contains("ObjectHashAggregate"),
      s"deltaSum must plan as an ObjectHashAggregate:\n$p")
    assert(p.toLowerCase.contains("partial"),
      s"deltaSum partials not map-side combined:\n$p")
    assert(!p.contains("Window"),
      s"q89 must not fall back to a window:\n$p")
  }

  test("q92 topK summary is a two-phase object aggregate; probes broadcast") {
    val p = plan("q92_topk_spacesaving")
    assert(p.contains("ObjectHashAggregate"),
      s"SpaceSaving must plan as an ObjectHashAggregate:\n$p")
    assert(p.toLowerCase.contains("partial"),
      s"SpaceSaving partials not map-side combined:\n$p")
    // the 16-counter summary and the 1-row total join the exact side as
    // broadcasts — nothing key-cardinality-sized ever shuffles twice
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"q92 summary/total must broadcast into the exact side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q92 must not sort-merge a 16-row side:\n$p")
  }

  test("d40 CDC chunking is pure expressions: no UDF, no explode, one doc-keyed join") {
    val p = plan("d40_cdc_chunk_dedup")
    assert(!p.contains("ScalaUDF"), "chunker fell back to a UDF")
    assert(!p.contains("Generate"),
      "reuse must be computed over bounded arrays, not an exploded join")
  }

  test("q93 radius join runs as a cell-key equijoin, never a cross product") {
    val p = plan("q93_grid_radius_join")
    assert(!p.contains("CartesianProduct"),
      s"q93 fell back to the quadratic cross join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q93's join must be keyed on the grid cells:\n$p")
  }

  test("m26 MP4 box walk is a map-only native fold: no UDF, no shuffle before the sort") {
    val p = plan("m26_mp4_box_walk")
    assert(!p.contains("ScalaUDF"), "box walk fell back to a UDF")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(exchanges == 0,
      s"the per-asset walk must not shuffle before the output sort:\n$p")
  }

  test("m20/m21 media expansion is map-parallel: no exchange before the output sort") {
    Seq("m20_audio_frame_features", "m21_image_resize").foreach { q =>
      val p = plan(q)
      // one map/flatMap over assets, then the presentation sort — any
      // other exchange means per-asset state leaked across rows
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("rangepartitioning"))
      assert(exchanges == 0,
        s"$q must not shuffle before the output sort:\n$p")
    }
  }

  test("hot paths run inside whole-stage codegen / native expressions") {
    // AQE prints pre-execution plans without codegen stages — ask the
    // codegen explain mode instead.
    val cg = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"))
    // BroadcastNestedLoopJoin (1-row build side) blocks WSCG around s03's
    // project, but the vec_dot expression itself is codegen'd inside the
    // UnsafeProjection — assert it's in the plan, not a UDF fallback.
    val p = plan("s03_cosine_topk_native")
    assert(p.contains("vec_dot") && !p.contains("ScalaUDF"))
  }

  test("semi/anti joins plan as join operators, not subquery re-execution") {
    assert(plan("q04_order_priority").contains("LeftSemi"))
    assert(plan("q07_customers_without_urgent").contains("LeftAnti"))
  }

  test("s01 broadcasts the query vector (nested-loop only against 1 row)") {
    val p = plan("s01_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("asof join is union+window — exactly one shuffle, no range join blowup") {
    val p = plan("q21_asof_signup")
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("correlated scalar subqueries decorrelate to aggregate+join, not re-execution") {
    // Catalyst must rewrite q35's two per-part subqueries into joined
    // aggregates; a per-row subquery re-execution would never scale.
    val p = plan("q35_small_qty_revenue")
    assert(!p.contains("ScalarSubquery"), "subquery survived decorrelation")
    assert(p.contains("HashAggregate"))
  }

  test("EXISTS/NOT EXISTS plan as semi + anti joins (q39)") {
    val p = plan("q39_quiet_active_customers")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("runtime bloom-filter pruning fires on selective shuffle joins") {
    // At 100 TB the fact side of a selective dim join must be pruned
    // BEFORE the shuffle: Spark's runtime filter injects a bloom filter
    // from the filtered build side into the fact scan. Broadcast joins
    // bypass it, so force a shuffle join for this plan check.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val li = Tables.load(spark, sfDir, "lineitem")
      val pt = Tables.load(spark, sfDir, "part").filter($"p_size" === 1)
      val p = li.join(pt, $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand").count()
        .queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter") || p.contains("might_contain"),
        s"no runtime bloom filter in plan:\n$p")
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q50's fused threshold uses two lineitem scans vs q35's three") {
    def scans(name: String) = plan(name).linesIterator
      .count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(scans("q35_small_qty_revenue") == 3) // decorrelation doesn't fuse
    assert(scans("q50_small_qty_revenue_fused") == 2)
  }

  test("q41 pure band join is rewritten off the nested-loop path") {
    val p = plan("q41_band_join_windows")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"RangeBucketJoin did not fire:\n$p")
    assert(p.contains("Generate"), "interval side not bucket-exploded")
  }

  test("s07 LSH candidates join against broadcast query bands, top-k without global sort") {
    val p = plan("s07_hyperplane_lsh")
    // the 4 query band rows broadcast; the corpus side never shuffles
    // for the join, and the re-rank is TakeOrderedAndProject
    assert(p.contains("BroadcastHashJoin"), s"band join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("s08 PQ encode and ADC lookup both join against broadcasts") {
    val p = plan("s08_pq_adc")
    // codebook (32 rows) and query distance table (32 rows) broadcast;
    // no sort-merge path anywhere in encode or lookup
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("t09 IDF statistics aggregate partially before shuffling") {
    val p = plan("t09_tfidf")
    assert(p.contains("partial_count"), "tf/df not map-side combined")
    // the 1-row corpus count joins as a broadcast, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("d10 decontamination broadcasts the benchmark shingles, never sort-merges") {
    val p = plan("d10_decontaminate")
    // the corpus side is map-only into a broadcast join — the 100 TB
    // side must never shuffle for the overlap probe
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
  }

  test("t11 repetition metrics stay map-only (no shuffle before the final sort)") {
    val p = plan("t11_repetition_metrics")
    // all three metrics fold inside the row; the only exchange allowed
    // is the final presentation ORDER BY
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected only the ORDER BY exchange:\n$p")
    assert(!p.contains("Generate"), "token explode crept back in")
  }

  test("t14 boilerplate probes the hot-shingle set via broadcast") {
    val p = plan("t14_boilerplate_ngrams")
    // the corpus-side shingle stream joins the (df >= K)-filtered hot set
    // as a broadcast — at 100 TB the inverted index shuffles once for the
    // DF count, never for the probe
    assert(p.contains("BroadcastHashJoin"), s"hot set not broadcast:\n$p")
  }

  test("t15 chunking is map-only: in-row explode, no exchange before the sort") {
    val p = plan("t15_doc_chunking")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected only the ORDER BY exchange:\n$p")
    assert(p.contains("Generate"), "chunk-index explode missing")
  }

  test("c02 packing shuffles once on the source shard for the window") {
    val p = plan("c02_sequence_packing")
    assert(p.contains("Window"), "running token sum not a window")
    // one hashpartitioning exchange for the per-source window + the
    // presentation sort — never a single global ordering
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash exchange:\n$p")
  }

  test("q61 sketch row broadcasts against the exact top-10") {
    val p = plan("q61_approx_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"sketch not broadcast:\n$p")
    assert(p.contains("partial_count"), "exact counts not map-side combined")
    assert(!p.contains("SortMergeJoin"))
  }

  test("t16 classifier scoring is map-only feature extraction") {
    val p = plan("t16_quality_classifier")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected only the ORDER BY exchange:\n$p")
    assert(!p.contains("ScalaUDF"), "feature math fell back to a UDF")
  }

  test("d12 URL dedup partially aggregates before its one wide shuffle") {
    val p = plan("d12_url_dedup")
    assert(p.contains("partial_count"), "canonical-url agg not map-side combined")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("d13 incremental dedup broadcasts the batch bands; corpus never self-pairs") {
    val p = plan("d13_incremental_dedup")
    // candidate generation = corpus-index bands probed by the (small)
    // batch band table as a broadcast; at 100 TB the corpus side never
    // shuffles for candidates
    assert(p.contains("BroadcastHashJoin"), s"batch bands not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("d14 paragraph keep/drop is a partial-aggregable min, not a window") {
    val p = plan("d14_paragraph_dedup")
    // min(struct(doc_id,pos)) per paragraph hash combines map-side —
    // a row_number window would hold a boilerplate paragraph's entire
    // occurrence list in one partition (unsplittable at 100 TB)
    assert(p.contains("partial_min"), s"first-occurrence min not map-side combined:\n$p")
    assert(!p.contains("Window"), s"keep/drop decision regressed to a window:\n$p")
  }

  test("c03 shard manifest partially aggregates counts and token mass") {
    val p = plan("c03_shard_export")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "shard stats not map-side combined")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("c04 corpus diff joins fingerprints, never document bodies") {
    val p = plan("c04_corpus_diff")
    assert(p.contains("FullOuter"), s"snapshot diff lost its full-outer join:\n$p")
    // fingerprints are computed in a map-side Project BEFORE the join's
    // exchange (the join line itself carries only doc_id keys)
    val joinLine = p.linesIterator.find(_.contains("FullOuter")).get
    assert(!joinLine.contains("text#"), "document bodies reached the join")
    assert(p.contains("md5(cast(text"), "fingerprinting not pushed map-side")
  }

  test("t17 NFC normalization is map-only and codegen'd (no UDF)") {
    val p = plan("t17_text_normalize")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected only the ORDER BY exchange:\n$p")
    assert(p.contains("nfc_normalize"), "custom expression missing from plan")
    assert(!p.contains("ScalaUDF"), "normalization fell back to a UDF")
  }

  test("s11 kNN join broadcasts the query set; corpus scanned once") {
    val p = plan("s11_knn_join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "corpus shuffled for scoring")
    // only one scan of the embeddings table on the corpus side + one for
    // the 4-row query side
    assert(p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("embeddings")) <= 2)
  }

  test("s12 LSH batch probe is a broadcast hash join on band values") {
    val p = plan("s12_lsh_batch_retrieval")
    assert(p.contains("BroadcastHashJoin"), s"band probe not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), "corpus bands shuffled for the probe")
    assert(!p.contains("CartesianProduct"))
  }

  test("d29 substring spans: join-free, single gram-kernel evaluation") {
    val p = plan("d29_substring_spans")
    // duplication/ownership are window aggregates over the gram
    // partition — the plan must contain NO join of any kind (a
    // groupBy+join-back shape re-evaluates the whole gram explode for
    // the probe side, and any nested-loop would be an all-pairs blowup)
    assert(!p.contains("Join"), s"substring dedup grew a join:\n$p")
    // one explode only: the md5-gram kernel must not run twice
    assert(p.linesIterator.count(_.contains("Generate ")) == 1,
      s"gram explode evaluated more than once:\n$p")
    assert(p.contains("Window"), "gram/islands windows missing")
  }

  // The tokenizer application plans stay KEYLESS: no hash exchange, no
  // join. Allowed exchanges: the final orderBy range partition, plus at
  // most one ROUND-ROBIN spread of the narrow doc scan (Tables.spread —
  // conditional scan-parallelism repair, a no-op at production scale).
  private def assertMapOnlyEncode(p: String, what: String): Unit = {
    assert(!p.contains("hashpartitioning"), s"$what shuffled by key:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange ")).toSeq
    assert(exchanges.size <= 2,
      s"more than spread + final sort exchange:\n$p")
    assert(exchanges.count(_.contains("RoundRobinPartitioning")) >=
      exchanges.size - 1,
      s"a non-spread, non-sort exchange appeared:\n$p")
    assert(!p.contains("Join"), "tokenizer application must not join")
  }

  test("t25 bpe encode: map-only in-row fold, no keyed exchange") {
    // the encode fold runs inside the row (transform + nested replace +
    // aggregate); any hash exchange means the fold leaked into a shuffle
    assertMapOnlyEncode(plan("t25_bpe_encode"), "encode fold")
  }

  test("t34 byte-bpe encode: map-only in-row fold, no keyed exchange") {
    // same contract as t25: the byte-level K-replace fold (and the
    // round-trip unhex check riding the same bound columns) runs inside
    // the row
    assertMapOnlyEncode(plan("t34_byte_bpe_encode"), "byte encode fold")
  }

  test("t33 trained-classifier serving: map-only scoring, no join, one scan") {
    // training runs at plan-build time (driver-coordinated epochs, the
    // t25 collect-then-splice convention); the RETURNED plan is the
    // serving pass — a projection with learned literals over one scan
    val p = plan("t33_trained_quality_classifier")
    assert(!p.contains("hashpartitioning"), s"scoring pass shuffled:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange ")) == 1,
      s"more than the final sort exchange:\n$p")
    assert(!p.contains("Join"), "serving must not join")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"serving must read the corpus once:\n$p")
  }

  test("m25 trained-classifier apply: checkpointed features, one batch shuffle, no rescan") {
    // training epochs run at plan-build time over the checkpointed
    // decode frame; the RETURNED plan is the batched apply — it must
    // read the materialized features (never re-render/re-decode the
    // corpus) and shuffle exactly once on the batch key before the
    // output sort
    val p = plan("m25_trained_media_classifier")
    assert(!p.contains("Scan parquet"),
      s"apply re-read the corpus instead of the checkpointed features:\n$p")
    assert(!p.contains("Join"), s"batched apply must not join:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange ")) <= 2,
      s"more than batch shuffle + output sort:\n$p")
  }

  test("t30 unigram encode: map-only Viterbi fold, no keyed exchange") {
    // the piece table is a bounded driver artifact (map literal); the
    // Viterbi DP is an in-row aggregate() fold
    assertMapOnlyEncode(plan("t30_unigram_tokenizer"), "viterbi fold")
  }

  test("t31 wordpiece encode: map-only greedy fold, no keyed exchange") {
    // the namespaced vocab is a bounded driver artifact (map literal);
    // the greedy variable-stride walk is an in-row aggregate() fold
    assertMapOnlyEncode(plan("t31_wordpiece_tokenizer"), "greedy walk")
  }

  test("q95 sweep line: deltas pre-aggregate two-phase; no join anywhere") {
    val p = plan("q95_max_intersections")
    // intervals contribute 2 points each (no explosion), ties collapse
    // in a partial-aggregable groupBy BEFORE the per-group running sum
    assert(p.contains("partial_sum"),
      s"sweep-line deltas not map-side combined:\n$p")
    assert(!p.contains("Join"),
      s"the sweep line is union+agg+window — a join leaked in:\n$p")
  }

  test("q96 retention: per-user flags partial-aggregate; anchor broadcasts") {
    val p = plan("q96_retention")
    assert(p.contains("partial_max"),
      s"retention flag bits not map-side combined:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row cohort anchor must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in q96 may sort-merge:\n$p")
  }

  test("s35 matryoshka funnel: no cartesian, group-limited rank windows") {
    val p = plan("s35_matryoshka_rerank")
    assert(!p.contains("CartesianProduct"),
      s"query-vs-corpus scoring must broadcast the query side:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"shortlist/re-rank/truth top-k must push as WindowGroupLimit:\n$p")
  }

  test("c22 k-anonymity: one partial-aggregable histogram, broadcast audit") {
    val p = plan("c22_k_anonymity_release")
    assert(p.contains("partial_count"),
      s"class histogram not map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the 1-row audit summary must broadcast:\n$p")
  }

  test("q97 quantile sketch: histogram partial-aggregates, targets broadcast") {
    val p = plan("q97_log_bucket_quantiles")
    assert(p.contains("partial_count"),
      s"log-bucket histogram not map-side combined:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 15-row target table must broadcast into the cumulative scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("d42 sorted neighborhood: one shard-key shuffle carries window and pairs") {
    // the cached audit output prints its AQE plan twice (Final +
    // Initial) — count the single physical shuffle in the final
    // section only
    val p = plan("d42_sorted_neighborhood")
    val fin = p.indexOf("== Initial Plan ==") match {
      case -1 => p
      case i => p.substring(0, i)
    }
    // union → ONE hashpartitioning(nationkey) exchange for the sort
    // window; the lead() pairs and the per-nation aggregate reuse that
    // partitioning — a second hash exchange means the pairs left the sort
    val hashEx = fin.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"SNM pairs re-shuffled ($hashEx hash exchanges):\n$p")
    assert(!p.contains("Join"), s"SNM generates pairs from the sort, not a join:\n$p")
  }

  test("q98 triangles: degree joins broadcast, wedge join keyed, no cartesian") {
    val p = plan("q98_triangle_count")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded degree table must broadcast into orientation:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"wedges must join on the low endpoint, never cross:\n$p")
  }

  test("t32 collocations: in-row bigrams (no self-join), pair counts partial-aggregate") {
    val p = plan("t32_collocations")
    assert(p.contains("partial_count"),
      s"bigram counts not map-side combined:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must plan as TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("m23 ID3 frame walk is pure expressions: no UDF, map-only before the sort") {
    val p = plan("m23_id3_frame_walk")
    assert(!p.contains("ScalaUDF"), "frame walk fell back to a UDF")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(exchanges == 0,
      s"per-asset walk must not shuffle before the presentation sort:\n$p")
  }

  test("m24 WARC walk is pure expressions: no UDF, map-only before the sort") {
    val p = plan("m24_warc_record_walk")
    assert(!p.contains("ScalaUDF"), "record walk fell back to a UDF")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(exchanges == 0,
      s"per-archive walk must not shuffle before the presentation sort:\n$p")
  }

  test("c23 crawl funnel: walk+strip map-parallel, only id/md5 keys shuffle") {
    val p = plan("c23_crawl_to_curated")
    assert(!p.contains("ScalaUDF"), "strip/walk fell back to a UDF")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"stage composition must not join the corpus:\n$p")
    // the dedup window partitions by md5 — the only hash exchanges are
    // stage aggregates and that window, all over id/md5-width rows
    assert(p.contains("windowspecdefinition"),
      s"dedup stage lost its per-hash window:\n$p")
  }

  test("c24 retrieval loop: serves from the stored index, zero UDF, no corpus join") {
    val p = plan("c24_crawl_index_serve")
    // the index build ran at store time; the returned plan's serve leg
    // reads the persisted assignment table
    assert(p.contains("c24_idx"),
      s"serving does not read the stored index:\n$p")
    assert(!p.contains("ScalaUDF"), "funnel/embed fell back to a UDF")
    assert(!p.contains("CartesianProduct"),
      s"a stage joined the corpus cross-wise:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a bounded side (centroids/query/bucket) sort-merge joined:\n$p")
  }

  test("s38 beam search serves from the STORED graph: broadcast rounds, no cartesian, no rebuild") {
    val p = plan("s38_graph_beam_search")
    // the serving plan reads the persisted edge list (the scratch dir
    // name appears in the scan location) — the graph build ran offline
    // at store time and is NOT in this plan
    assert(p.contains("s38_graph"),
      s"serving does not read the stored graph:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"beam round exploded to a cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a bounded frontier/visited side sort-merge joined:\n$p")
    // frontier caps plan as distributed top-k, not global sorts
    assert(p.contains("TakeOrderedAndProject"),
      s"beam cap lost its TakeOrdered form:\n$p")
  }

  test("s40 layered descent serves from BOTH stored graphs, broadcast rounds only") {
    val p = plan("s40_hnsw_layered_descent")
    // the base layer's edge list comes from s38's shared persisted
    // store and appears as a scan location in the SERVED plan; the
    // upper layer's store read is truncated out of the served lineage
    // by the beam pin (per-round localCheckpoint in beam), so it
    // is locked on the exposed upper-descent plan below — same pattern
    // as the s41 hnswInsertedGraphBuild probe
    assert(p.contains("s38_graph"), s"base layer not served from the shared store:\n$p")
    assert(!p.contains("CartesianProduct"), s"a beam round exploded:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a bounded frontier/seed side sort-merge joined:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"beam caps lost their TakeOrdered form:\n$p")
    val up = operators.SimilarityQueries.s40UpperDescent(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(up.contains("s40_l1"),
      s"upper layer not served from its store:\n$up")
    assert(!up.contains("CartesianProduct"), s"upper beam exploded:\n$up")
    assert(!up.contains("SortMergeJoin"),
      s"a bounded upper frontier side sort-merge joined:\n$up")
  }

  test("s39 recall audit: truth joins beam/visited/in-degree sides by broadcast only") {
    val p = plan("s39_graph_beam_recall")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"audit joins must broadcast (every side is <=10..N*M rows):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"audit legs not broadcast-joined:\n$p")
  }

  test("q101 dict probes broadcast: the fact side never shuffles for a lookup") {
    val p = plan("q101_dict_functions")
    // flat lookups are literal-map element_at (no join at all); the
    // hierarchy levels and the final hier attach are broadcast joins of
    // the 30-row dimension / 25-row chain — nothing dictionary-sized may
    // sort-merge or cartesian
    assert(p.contains("BroadcastHashJoin"),
      s"dict joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a dictionary-sized side sort-merge joined:\n$p")
    assert(!p.contains("CartesianProduct"), s"dict probe exploded:\n$p")
    assert(p.contains("partial_count"),
      s"the one fact-side aggregate lost map-side combine:\n$p")
  }

  test("s41 insert reads the stored base graph; beams/recaps broadcast, never re-band") {
    // the registered query serves from the corpus-keyed insert STORE
    // (ADVICE r13: one 4-insert chain build per JVM per corpus)...
    val p = plan("s41_hnsw_incremental_insert")
    assert(p.contains("s41_ins"),
      s"query does not serve from the cached insert store:\n$p")
    // ...and the BUILD, probed directly, reads the persisted base
    // graph — no re-banding, no rebuild — through broadcast-only joins
    val b = operators.SimilarityQueries
      .hnswInsertedGraphBuild(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(b.contains("s41_base"),
      s"insert build does not read the stored base graph:\n$b")
    assert(!b.contains("CartesianProduct"),
      s"an insert beam/recap exploded:\n$b")
    assert(!b.contains("SortMergeJoin"),
      s"a bounded (<=M-row) insert side sort-merge joined:\n$b")
    assert(b.contains("BroadcastHashJoin"),
      s"insert joins must broadcast:\n$b")
  }

  test("s44 bulk ingest: one merge over pinned neighborhoods, base store read, broadcasts only") {
    // the registered query serves from the merged-edge-list store
    val p = plan("s44_hnsw_bulk_ingest")
    assert(p.contains("s44_base_ins"),
      s"query does not serve from the cached bulk-ingest store:\n$p")
    // the BUILD: the batched beams are consumed as ONE pinned bounded
    // neighborhood table (a LogicalRDD scan — beams never re-run in
    // the merge), the base graph comes from its store, and the merge
    // is broadcast joins + windows with no cartesian/sort-merge
    val b = operators.SimilarityQueries
      .bulkInsertedGraphBuild(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(b.contains("s44_base"),
      s"bulk build does not read the stored base graph:\n$b")
    assert(b.contains("Scan ExistingRDD"),
      s"merge must consume the PINNED neighborhoods, not re-run beams:\n$b")
    assert(!b.contains("CartesianProduct"),
      s"the bulk merge exploded:\n$b")
    assert(!b.contains("SortMergeJoin"),
      s"a bounded merge side sort-merge joined:\n$b")
    assert(b.contains("BroadcastHashJoin"),
      s"merge joins must broadcast:\n$b")
  }

  test("s49 chained ingest fold: serves from its store; build is base ANTI checkpointed delta") {
    // the registered query serves from the corpus-keyed chain store
    val p = plan("s49_graph_ingest_fold")
    assert(p.contains("s49_chain_ins"),
      s"query does not serve from the cached chain store:\n$p")
    // the BUILD is the s41 delta representation — the stored base
    // graph anti-joined (broadcast) against the touched set, unioned
    // with the CHECKPOINTED merge delta (a LogicalRDD scan): two
    // batches of beams/merges already folded in, zero re-beam work in
    // the returned plan, depth independent of how many batches chained
    val b = operators.SimilarityQueries
      .bulkChainGraphBuild(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(b.contains("s49_base"),
      s"fold build does not read the stored chain base graph:\n$b")
    assert(b.contains("Scan ExistingRDD"),
      s"fold must compose the checkpointed delta, not re-run merges:\n$b")
    assert(!b.contains("CartesianProduct") && !b.contains("SortMergeJoin"),
      s"the delta composition must broadcast (touched set is bounded):\n$b")
    assert(b.contains("BroadcastHashJoin"),
      s"the base ANTI touched join must broadcast:\n$b")
  }

  test("s45 delete repair: serves from the masked store; repair is broadcast-only, no re-band") {
    // the registered query reads the s45 delete-lifecycle store (the
    // masked read is the serving artifact) through broadcast joins
    val p = plan("s45_graph_delete_repair")
    assert(p.contains("s45_del"),
      s"query does not serve from the delete-lifecycle store:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the masked read / touched filter must broadcast:\n$p")
    // the REPAIR build: bounded candidate set broadcast into the
    // vector table twice, one per-src window — no re-band, no re-beam
    val b = operators.SimilarityQueries
      .deleteRepairBuild(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(b.contains("s38_graph"),
      s"repair does not read the stored serving graph:\n$b")
    assert(!b.contains("CartesianProduct") && !b.contains("SortMergeJoin"),
      s"repair joins must broadcast (candidates are bounded):\n$b")
    assert(b.contains("BroadcastHashJoin"),
      s"repair joins must broadcast:\n$b")
    // the audit serves through the same masked store
    val a = plan("s45_delete_recall_audit")
    assert(a.contains("s45_del"),
      s"audit does not read the repaired masked store:\n$a")
    assert(!a.contains("CartesianProduct") && !a.contains("SortMergeJoin"),
      s"audit joins must broadcast (every side is <=10..N*M rows):\n$a")
  }

  test("s46 multi-layer insert serves from its store; build reads both layer stores, broadcasts only") {
    val p = plan("s46_multilayer_insert")
    assert(p.contains("s46_ml"),
      s"query does not serve from the layered insert store:\n$p")
    // the BUILD: each layer reads ITS stored base graph, composes the
    // checkpointed deltas (LogicalRDD scans — no re-beam in the
    // returned plan), broadcast joins only
    val (g0, g1) = operators.SimilarityQueries
      .mlInsertedGraphBuild(spark, sfDir)
    Seq(("s46_l0", g0), ("s46_l1", g1)).foreach { case (tag, g) =>
      val b = g.queryExecution.executedPlan.toString
      assert(b.contains(tag),
        s"$tag layer build does not read its stored base graph:\n$b")
      assert(b.contains("Scan ExistingRDD"),
        s"$tag must compose checkpointed deltas, not re-run inserts:\n$b")
      assert(!b.contains("CartesianProduct") && !b.contains("SortMergeJoin"),
        s"$tag delta composition must broadcast:\n$b")
      assert(b.contains("BroadcastHashJoin"),
        s"$tag base ANTI touched join must broadcast:\n$b")
    }
  }

  test("s42 filtered beam serves from the stored graph; 2-hop rounds broadcast") {
    val p = plan("s42_filtered_graph_beam")
    assert(p.contains("s38_graph"),
      s"filtered traversal does not read the stored graph:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a 2-hop expansion exploded:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a bounded frontier/hop side sort-merge joined:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"beam caps lost their TakeOrdered form:\n$p")
  }

  test("s43 filtered recall audit joins its bounded legs by broadcast only") {
    val p = plan("s43_filtered_beam_recall")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"audit joins must broadcast (every side is <=10..N*M rows):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"audit legs not broadcast-joined:\n$p")
  }

  test("s36 width curve: coarse cap is a distributed top-k, not a global sort") {
    val p = plan("s36_matryoshka_width_curve")
    // an unpartitioned rank window gets no WindowGroupLimit push — the
    // cap must plan as TakeOrderedAndProject, with the rank window
    // running over the 100 surviving rows
    assert(p.contains("TakeOrderedAndProject"),
      s"the coarse cap must be a distributed top-k:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"query-vs-corpus scoring must broadcast:\n$p")
  }

  test("s37 coarse leg scans the prefix column only (vector column pruning)") {
    val p = plan("s37_stored_prefix_serving")
    // the q01 ReadSchema lock applied to vectors: at least one store
    // scan must read prefix WITHOUT the full embedding column — the
    // physical proof of s35's "coarse pass reads 25% of the bytes"
    val prunedScan = p.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("prefix") &&
        !l.contains("embedding"))
    assert(prunedScan,
      s"no scan reads the prefix without the full vector:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"shortlist/top-k must plan as distributed top-k:\n$p")
  }

  test("t26 script profile is map-only regexp counting (one sort exchange)") {
    val p = plan("t26_script_profile")
    // per-script counts are in-row regexp extraction — no join, no agg,
    // no shuffle but the presentation ORDER BY
    assert(p.linesIterator.count(_.contains("Exchange ")) <= 1,
      s"expected only the ORDER BY exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("ScalaUDF"),
      s"script counting left the row:\n$p")
  }

  test("c15 pack manifest reuses c02's per-source partitioning for the rollup") {
    val p = plan("c15_pack_manifest")
    // the window shuffles once on source; the (source, pack_id) groupBy
    // is satisfied by that same partitioning (subset clustering) — a
    // second hash exchange would mean the rollup re-shuffled the corpus
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash exchange:\n$p")
    assert(p.contains("Window"), "packing layout window missing")
  }

  test("s19 MMR: distributed candidate head + in-row greedy (no re-join)") {
    val p = plan("s19_mmr_diversified")
    // stage 1 is s01's shape: broadcast query, top-k via
    // TakeOrderedAndProject; stage 2 is ONE fold over ONE collected row —
    // no join or shuffle may reference the corpus again
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate head is a global sort:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"greedy stage re-joined the corpus:\n$p")
    assert(!p.contains("ScalaUDF"), "greedy fold fell back to a UDF")
  }

  test("q72 sketch audit: rank pass joins the 5-row stats as a broadcast") {
    val p = plan("q72_quantile_sketch_audit")
    // both quantile legs partial-aggregate per event_type; the rank
    // re-scan must see the stats table as a broadcast, never a shuffle
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"rank pass shuffled the join:\n$p")
  }

  test("c19 expectations: N rules in one scan, referential via broadcast, no fact shuffle") {
    val p = plan("c19_expectations_quarantine")
    // all rules fold into one projection over a single orders scan; the
    // customer-FK rule joins a BROADCAST of the dimension keys; the only
    // exchange is the single-row final-aggregate gather
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("orders"))
    assert(scans == 1, s"expectations must cost ONE fact scan, got $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the referential rule must broadcast the dimension keys")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fact side shuffled for a rule check:\n$p")
  }

  test("c16 curriculum: sharded windows + broadcast offsets, no global funnel") {
    val p = plan("c16_curriculum_order")
    // per-(band, shard) window partitions the corpus ~768 ways; the
    // offset rollup is tiny and joins back as a broadcast
    assert(p.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    // the corpus-side window must be partitioned (only the 768-row
    // offsets cumsum may run unpartitioned)
    assert(p.contains("hashpartitioning(band"),
      s"corpus window lost its shard partitioning:\n$p")
  }

  test("t27 drift KL broadcasts the per-source totals; counts combine map-side") {
    val p = plan("t27_corpus_drift_kl")
    assert(p.contains("BroadcastHashJoin"), s"totals not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("partial_sum"), "token counts not map-side combined")
  }

  test("d31 record linkage blocks through the adaptive router, joins keyed") {
    val p = plan("d31_record_linkage")
    // blocking inherits the router's guarantees: count-first semi-join
    // guard, no cartesian/nested-loop blowup anywhere in the plan
    assert(p.contains("LeftSemi"), s"bucket-size guard missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair expansion degenerated:\n$p")
  }

  test("d30 incremental substring: gram-keyed index probe, no pair expansion") {
    val p = plan("d30_incremental_substring")
    // the batch joins the stored gram index on the md5 key only — an
    // equi join; any nested-loop/cartesian would be an all-pairs blowup
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"index probe degenerated:\n$p")
    // exactly one join: batch grams × index (the existing corpus's text
    // is read only to build the index, never to re-flag)
    assert(p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")
        || l.contains("BroadcastHashJoin")) == 1,
      s"expected exactly the index probe join:\n$p")
  }

  test("d16 semantic dedup: broadcast centroid assignment, keyed pair join") {
    val p = plan("d16_semantic_dedup")
    // centroid assignment: broadcast nested-loop against the 8-row side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    // within-cluster pairing is an EQUI join on cid — never a cartesian
    assert(!p.contains("CartesianProduct"), s"all-pairs blowup:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 1,
      "cluster-keyed pair join missing")
    // two-phase scoring: the cheap codegen'd kernel appears as the filter
    assert(p.contains("vec_dot"), "vec_dot prefilter missing from plan")
  }

  test("t18 LM statistics aggregate partially before their shuffles") {
    val p = plan("t18_bigram_lm_score")
    // head counts, bigram counts, vocabulary: each a two-phase aggregate
    assert(p.linesIterator.count(l =>
      l.contains("HashAggregate") && l.contains("partial")) >= 3,
      s"LM count tables not partially aggregated:\n$p")
    assert(p.contains("BroadcastExchange"), "vocabulary scalar not broadcast")
  }

  test("dx18 compliance checks run in-row: no explode, no pre-sort exchange") {
    val p = plan("dx18_spec_compliance")
    assert(!p.contains("Generate"), s"channel array was exploded:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"expected only the ORDER BY exchange:\n$p")
  }

  test("q65 recursion is an engine-planned UnionLoop with a keyed join per level") {
    val p = plan("q65_recursive_cte")
    // the fixpoint must be the engine's UnionLoop (iteration planned and
    // executed by Catalyst), not a driver-side loop
    assert(p.contains("UnionLoop") && p.contains("UnionLoopRef"),
      s"expected engine-planned recursion, plan was:\n$p")
    // each level joins the frontier on an EQUI key (c_custkey div 2 =
    // custkey) — a Spark upgrade degrading this to a nested-loop /
    // cartesian would turn log-n cheap levels into n² per level
    assert(p.contains("Join Inner, ((c_custkey"),
      s"per-level frontier join lost its equi-key, plan was:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"recursion body fell off the keyed-join path, plan was:\n$p")
  }

  test("s14 stored-index search never re-clusters the corpus") {
    val p = plan("s14_ivf_stored_index")
    // the build phase ran eagerly into the stored tables; the SEARCH plan
    // must touch only those — re-clustering would show up as the centroid
    // cross-join (BroadcastNestedLoopJoin) + per-vector argmin Window
    assert(!p.contains("Window"),
      s"stored-index probe recomputed the argmin assignment:\n$p")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"stored-index probe re-ran the centroid cross-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), "bucket probe should be a broadcast join")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("s24 stored multi-probe search never re-clusters the corpus") {
    val p = plan("s24_ivf_stored_multiprobe")
    // re-clustering's signature is the per-vector argmin Window over the
    // corpus — the search plan must have NO Window at all; probe
    // selection is a TakeOrderedAndProject(limit=2) over the stored
    // centroid table instead
    assert(!p.contains("Window"),
      s"stored multi-probe recomputed the argmin assignment:\n$p")
    // exactly ONE nested-loop join is legitimate: the nlist-row stored
    // centroid table × the single broadcast query row (probe selection).
    // A second one would mean the CORPUS hit a cross join.
    val nlj = p.linesIterator.count(_.contains("NestedLoopJoin"))
    assert(nlj == 1 && !p.contains("CartesianProduct"),
      s"expected exactly the centroid-table NLJ, got $nlj:\n$p")
    assert(p.contains("limit=2"), "probe selection must be orderBy+limit(2)")
    assert(p.contains("BroadcastHashJoin"), "bucket probe should be a broadcast join")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("s27 stored IVF-PQ serving: no Window, no join against the centroid table, broadcasts everywhere") {
    val p = plan("s27_ivfpq_stored_serving")
    // the build's two argmin Windows (coarse assign + PQ encode) ran
    // eagerly into the stores, and probe selection COLLECTED its two
    // centroid ids before this plan was built — the SERVING plan must
    // be: stats-pruned codes scan + broadcast lookup join + one agg.
    assert(!p.contains("Window"),
      s"stored IVF-PQ serving recomputed an argmin:\n$p")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"serving plan hit a cross join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the 32-entry query lookup table must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    // the probe filter must reach the scan (the stats-pruned readWhere
    // leaves an icid IN (...) residual over the kept files)
    assert(p.contains("icid"), s"probe filter vanished from the plan:\n$p")
  }

  test("s26 stored-code serving never re-encodes the corpus") {
    val p = plan("s26_pq_stored_codes")
    // the encode argmin (per-(vec,sp) Window) ran once in the eager
    // build; the SERVING plan must be lookup-join + sum over the stored
    // codes — a Window here means the corpus was re-encoded per query
    assert(!p.contains("Window"),
      s"stored-code serving recomputed the PQ encode argmin:\n$p")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"serving path hit a cross join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the 32-entry query lookup table must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("c10 terciles are banded windows, never one whole-language ntile sort") {
    val p = plan("c10_perplexity_mixture")
    // ntile over PARTITION BY lang sorts a whole language in one task —
    // the dominant language IS the corpus at 100 TB (measured 64 s at
    // ×100, ~60 of them that sort). The rewrite ranks within (lang,
    // band-of-the-sort-key) windows and reconstructs exact ntile from
    // broadcast band offsets.
    assert(!p.contains("ntile"), s"whole-language ntile came back:\n$p")
    val rnWindow = p.linesIterator
      .find(l => l.contains("Window") && l.contains("row_number"))
    assert(rnWindow.exists(l => l.contains("lang") && l.contains("band")),
      s"rank window not banded:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "band offsets should join back as a broadcast")
  }

  test("c08 epoch shuffle is sharded windows, never one global row_number") {
    val p = plan("c08_training_order_shuffle")
    assert(p.contains("Window"), "per-shard position must be a window")
    // exactly one hash exchange (the shard window); the probe orderBy is
    // a range exchange over 6 rows. A global row_number would show a
    // single-partition Window (Exchange SinglePartition) — the shape
    // that serializes a 100 TB corpus through one task.
    assert(!p.contains("Exchange SinglePartition"),
      s"epoch shuffle collapsed to a single partition:\n$p")
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash exchange:\n$p")
  }

  test("c09 mixture reuses the source partitioning: window + groupBy, one hash exchange") {
    val p = plan("c09_token_budget_mixture")
    assert(p.contains("Window"), "cumulative token sum must be a window")
    // the groupBy(source) after a window PARTITIONED BY source must NOT
    // introduce a second hash exchange — Catalyst reuses the window's
    // partitioning, so the budget take is one shuffle end-to-end
    val hashEx = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"groupBy should reuse the window's source partitioning:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"mixture collapsed to a single partition:\n$p")
  }

  test("q62 sequence fold is one shuffle + map-side aggregate lambda") {
    val p = plan("q62_sequence_count")
    // one exchange for the groupBy(user), one for the final ORDER BY
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"fold should shuffle only on user_id:\n$p")
    // the state machine runs inside the aggregate's output projection —
    // the plan shows the event array collected per user, nothing more
    assert(p.contains("collect_list"), "per-user event collection missing")
    assert(p.contains("n_matches"), "fold output missing")
  }

  test("q69 weighted quantiles: rank window runs over pre-aggregated distinct values") {
    val p = plan("q69_weighted_quantiles")
    // the cumulative-weight window must consume the (flag, price) partial
    // agg, never raw rows — that collapse is what bounds the window input
    assert(p.contains("partial_sum"), s"distinct-value pre-agg missing:\n$p")
    assert(p.linesIterator.count(_.contains("Window")) >= 1)
    assert(!p.contains("Join"), s"weighted quantiles must not join:\n$p")
  }

  test("q70 nearest as-of is window-only: no self-join, one keyed exchange") {
    val p = plan("q70_asof_nearest")
    assert(!p.contains("Join"),
      s"nearest-asof must be the sorted-merge formulation, not a self-join:\n$p")
    val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(ex == 1, s"both window passes must share one user exchange:\n$p")
  }

  test("q71 gap fill: spine join keyed on user+day, bracket windows share the exchange") {
    val p = plan("q71_gap_fill_interpolate")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"spine join degenerated to a cartesian:\n$p")
    // both IGNORE NULLS bracket passes are windows over user_id
    assert(p.linesIterator.count(_.contains("Window")) >= 1, s"bracket windows missing:\n$p")
  }

  test("d23 bloom probe filters ahead of the exact confirm join") {
    val p = plan("d23_bloom_decontaminate")
    // the codegen'd sketch probe must sit in a Filter BEFORE the join —
    // pushed after it, the confirm join would pay the full corpus again
    val probeLine = p.linesIterator.indexWhere(l =>
      l.contains("Filter") && l.contains("bloom_contains"))
    val joinLine = p.linesIterator.indexWhere(l =>
      l.contains("Join") && l.contains("shingle"))
    assert(probeLine >= 0, s"bloom_contains probe missing from plan:\n$p")
    assert(joinLine >= 0, s"confirm join missing from plan:\n$p")
  }

  test("d03 adaptive pair routing: both lanes in ONE plan, count-first guards, no cartesian") {
    val p = plan("d03_lsh_candidate_pairs")
    // capped lane: the bucket-size guard must be a semi-join BEFORE any
    // collect_list materializes a bucket (boundedPostingLists contract)
    assert(p.contains("LeftSemi"), s"count-first semi-join guard missing:\n$p")
    // hot lane: the salted join subtree is part of the same plan — the
    // routing decision is per-bucket AT RUNTIME, never a driver re-plan
    assert(p.contains("__salt"), s"salted lane missing from the plan:\n$p")
    // and the expansion is never a cartesian / nested-loop blowup
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair expansion degenerated:\n$p")
  }

  test("m07 perceptual near-dup: banded candidates + keyed Hamming confirm, no cartesian") {
    val p = plan("m07_perceptual_neardup")
    assert(p.contains("LeftSemi"), s"hot-bucket guard missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banded confirm degenerated:\n$p")
    // the confirm joins hash on the candidate doc ids (keyed, AQE-splittable)
    assert(p.contains("hashpartitioning") || p.contains("BroadcastHashJoin"),
      s"confirm join not keyed:\n$p")
  }

  test("real-decode seams (m08-m11) stay map-only: one exchange, no join/agg") {
    // render+decode is per-partition imperative work; the only exchange
    // any of these plans may contain is the output sort's range
    // partitioning — a second exchange, join or aggregate would mean the
    // decode stage started shuffling asset bytes
    Seq("m08_image_decode", "m09_split_decode", "m10_audio_decode",
        "m11_frame_sample_decode", "m12_metadata_sniff",
        "m13_wav_metadata_sniff", "m15_mp4_metadata_sniff",
        "m16_video_track_sniff", "m18_mp3_metadata_sniff",
        "m19_jpeg_exif_sniff").foreach { q =>
      val p = plan(q)
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 1, s"$q shuffles before the sort ($exchanges):\n$p")
      assert(!p.contains("Join") && !p.contains("HashAggregate"),
        s"$q decode stage is not map-only:\n$p")
      assert(p.contains("MapPartitions"), s"$q lost the typed decode seam:\n$p")
    }
    // the header sniffs must additionally stay NATIVE projections: the
    // only imperative stage is the asset render — conv/hex/substring
    // over binary (m15's included the box-walk column arithmetic)
    // never fall back to a UDF
    Seq("m12_metadata_sniff", "m13_wav_metadata_sniff",
        "m15_mp4_metadata_sniff", "m16_video_track_sniff",
        "m18_mp3_metadata_sniff", "m19_jpeg_exif_sniff").foreach { q =>
      assert(!plan(q).contains("ScalaUDF"),
        s"$q metadata extraction fell back to a UDF")
    }
  }

  test("t23 novelty attribution stays join-free on the ngram axis") {
    val p = plan("t23_ngram_novelty")
    // df=1 attribution must come out of the DF aggregation itself
    // (min(doc_id) carried in the agg), never a corpus×DF-table join:
    // no join in this plan may key on the 16-char ngram hash
    val ngramJoins = p.linesIterator.filter(_.contains("Join"))
      .count(l => l.contains("h#"))
    assert(ngramJoins == 0, s"novelty joined on the ngram hash:\n$p")
    assert(p.contains("partial_count"), s"DF agg must partial-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("d28 incremental CC: contracted propagation uses keyed joins only") {
    val p = plan("d28_incremental_clusters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"label propagation degenerated:\n$p")
    // every propagation round exchanges on the edge key, AQE-visible
    assert(p.contains("hashpartitioning") || p.contains("BroadcastHashJoin"),
      s"propagation join not keyed:\n$p")
  }

  test("deletion-vector masked read (dx23 flagship): broadcast anti-join mask, no rewrite") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan_dv").toString
    val t = new graft.storage.FactTable(dir, spark)
    val ev = Tables.events(spark, sfDir).limit(2000)
      .withColumn("date", to_date(col("ts")))
    t.append(ev, 0)
    t.softDelete(col("user_id") === 1L, Seq("user_id"))
    val p = t.read().queryExecution.executedPlan.toString
    // the mask is a BROADCAST anti-join against the kilobyte tombstone —
    // a sort-merge mask would shuffle the whole table on every read
    assert(p.contains("LeftAnti"), s"tombstone mask missing:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"mask not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"masked read shuffles the fact side:\n$p")
  }

  test("log-native FactTable read: one FileScan per tier, date pruning through the log index") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan_log").toString
    val t = new graft.storage.FactTable(dir, spark)
    val rows = spark.range(240).select(col("id"),
      (lit(1709251200L) + col("id") % 6 * 86400L).cast("timestamp").as("ts"))
      .withColumn("date", to_date(col("ts")))
    (0 until 6).foreach { i =>
      t.append(rows.where(col("id") % 6 === i), i)
      t.compact(sortCols = Seq("id"))
    }
    t.append(rows.limit(10), 6) // stays in the buffer tier
    val p = t.read().where(col("date") === lit(java.sql.Date.valueOf("2024-03-02")))
      .queryExecution.executedPlan.toString
    // six base generations and the buffer: one scan per tier, never one
    // per generation
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans == 2, s"$scans file scans:\n$p")
    // the base tier's date predicate is a partition filter Spark applies
    // to the log index's partition values
    assert(p.contains("PartitionFilters: [isnotnull(date"), s"no partition pruning:\n$p")
  }

  test("join hints steer the planner: BROADCAST beats the size heuristic, MERGE forces SMJ") {
    Tables.registerAll(spark, sfDir)
    // orders ⋈ lineitem is above the autoBroadcast threshold default at
    // larger SFs; the point here is that explicit hints OVERRIDE whatever
    // the size heuristic picks — the manual override knob a 100 TB plan
    // sometimes needs when stats mislead
    val broadcasted = spark.sql(
      "SELECT /*+ BROADCAST(orders) */ count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey")
      .queryExecution.executedPlan.toString
    assert(broadcasted.contains("BroadcastHashJoin"),
      s"BROADCAST hint ignored:\n$broadcasted")
    val merged = spark.sql(
      "SELECT /*+ MERGE(o) */ count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey")
      .queryExecution.executedPlan.toString
    assert(merged.contains("SortMergeJoin"), s"MERGE hint ignored:\n$merged")
  }

  test("c14 scrub joins intervals to docs by broadcast — corpus tokens never shuffle") {
    val p = plan("c14_span_scrubbed_export")
    // the round-9 rewrite's contract: the merged-interval side broadcasts
    // into a left-outer join against the doc rows; the old shape's two
    // token-granular exchanges (anti-join + re-collect) must not return
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"interval join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token-granular shuffle returned:\n$p")
  }

  test("q75 explicit-list pivot: no Expand, partial-agg chain, bounded exchanges") {
    val p = plan("q75_pivot_event_matrix")
    assert(!p.contains("Expand"), s"pivot expanded rows:\n$p")
    assert(p.contains("partial_pivotfirst"), s"pivot not partial-aggregable:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    // (day, type) pre-agg + day pivot re-agg + the presentation sort;
    // every exchange carries aggregated rows, never the fact table
    assert(exchanges <= 3, s"pivot plans $exchanges exchanges:\n$p")
  }

  test("t28 keyness derives global token frequency without a join") {
    val p = plan("t28_keyness_report")
    assert(!p.contains("Join"), s"keyness joined instead of windowing:\n$p")
  }

  test("s22 range search: broadcast probes, native prefilter, no shuffle join") {
    val p = plan("s22_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probe set not broadcast:\n$p")
    assert(p.contains("vec_dot") && !p.contains("ScalaUDF"),
      s"prefilter not the native kernel:\n$p")
    assert(!p.contains("SortMergeJoin"), s"range search shuffle-joined:\n$p")
  }

  test("s29 hybrid RRF: query terms + df broadcast, legs group-limited, no cartesian") {
    val p = plan("s29_hybrid_rrf")
    assert(!p.contains("CartesianProduct"), s"hybrid fusion went cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term / df probes must be broadcast joins:\n$p")
    // each leg's per-query top-20 must push the rank limit below the
    // window (WindowGroupLimit) so no leg ever fully sorts its partition
    assert(p.contains("WindowGroupLimit"), s"leg top-k not group-limited:\n$p")
  }

  test("s30 nprobe sweep: broadcast centroid/truth sides, partial-agg rollup, no cartesian") {
    val p = plan("s30_nprobe_sweep")
    assert(!p.contains("CartesianProduct"), s"sweep went cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe-rank / truth joins must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-nprobe rollup must partial-aggregate:\n$p")
    // the per-nprobe top-10 must be group-limited: without it the
    // nprobe=8 window is ONE task sorting the whole corpus
    assert(p.contains("WindowGroupLimit"),
      s"per-nprobe rank not group-limited:\n$p")
  }

  test("s31 batch serving: broadcast probe triples into the stored index, group-limited top-k") {
    val p = plan("s31_ivf_batch_serving")
    assert(!p.contains("CartesianProduct"), s"batch serving went cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the (qid, bucket, qv) probe set must broadcast into the store:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k not group-limited:\n$p")
  }

  test("t29 hashing vectorizer is join-free: two keyed partial aggs, text never shuffles") {
    val p = plan("t29_hashing_vectorizer")
    assert(!p.contains("Join"), s"vectorizer joined instead of aggregating:\n$p")
    assert(p.contains("partial_sum"), s"component sums not partial-aggregated:\n$p")
  }

  test("s32 assembled hybrid stack: broadcast legs, group-limited, no cartesian") {
    val p = plan("s32_hybrid_stored_serving")
    assert(!p.contains("CartesianProduct"), s"assembled stack went cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query-term / probe joins must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"leg top-k not group-limited:\n$p")
  }

  test("q79 overlap sketch: mergeable partial aggs, tiny pair join, no cartesian") {
    val p = plan("q79_overlap_sketch")
    assert(!p.contains("CartesianProduct"), s"pair join went cartesian:\n$p")
    assert(p.contains("partial_hll_sketch_agg") || p.contains("partial_count"),
      s"sketches must partial-aggregate map-side:\n$p")
  }

  test("t10 balanced sample: per-stratum top-K is group-limited") {
    val p = plan("t10_balanced_sample")
    assert(p.contains("WindowGroupLimit"),
      s"stratum sampling must not fully sort each language partition:\n$p")
  }

  test("s33 hybrid recall audit: both fusions broadcast-joined, no cartesian") {
    val p = plan("s33_hybrid_recall_audit")
    assert(!p.contains("CartesianProduct"), s"audit went cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"served/probed membership joins must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"leg top-k not group-limited:\n$p")
  }

  test("s47 retrieval metrics: broadcast truth/weights joins, group-limited legs, no cartesian") {
    // the metrics aggregation rides the s33 stack: leg top-ks stay
    // group-limited, the truth frame and the 10-row discount table
    // broadcast into the served ranking, partial aggregation applies
    val p = plan("s47_retrieval_metrics")
    assert(!p.contains("CartesianProduct"), s"metrics went cartesian:\n$p")
    // (the fusions' FULL OUTER joins sort-merge by necessity — a full
    // outer cannot broadcast — over <=20-row-per-query leg tops, the
    // same shape s32/s33 carry)
    assert(p.contains("BroadcastHashJoin"),
      s"truth/weights joins must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"leg top-k not group-limited:\n$p")
  }

  test("s48 PQ-guided serving: reads graph + codes stores, never re-encodes, broadcasts only") {
    // the DiskANN no-recompute contract: traversal reads the STORED
    // graph and the STORED codes/codebook (the PQ encode argmin never
    // re-runs — no per-(vec,sp) partitioned window in the plan), all
    // joins broadcast, the answer is a TakeOrdered top-10
    val p = plan("s48_pq_graph_serving")
    assert(p.contains("s38_graph"),
      s"traversal does not read the stored graph:\n$p")
    // (the codebook read hides behind the pinned 32-row query lookup
    // table — a LogicalRDD — so only the codes store appears)
    assert(p.contains("s48_codes"),
      s"traversal does not read the stored PQ codes:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the query lookup table must be pinned, not rebuilt per round:\n$p")
    assert(!p.contains("windowspecdefinition(vec_id"),
      s"the PQ encode argmin re-ran at serving time:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"frontier/codes/lookup joins must broadcast:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"frontier/codes/lookup joins must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the re-rank top-10 lost its TakeOrdered form:\n$p")
    // the audit composes the same stores through broadcast-only joins
    val a = plan("s48_pq_recall_audit")
    assert(!a.contains("CartesianProduct") && !a.contains("SortMergeJoin"),
      s"audit joins must broadcast (every side is <=10..N*M rows):\n$a")
  }

  test("q103 bitmap aggregates: map-side partial collect_set, 5-row pair join broadcast") {
    val p = plan("q103_bitmap_aggregates")
    // the bitmaps must combine map-side: only per-group distinct sets
    // cross the one groupBy exchange
    assert(p.contains("partial_collect_set"),
      s"bitmap build not partial-aggregated:\n$p")
    // the pair join is a non-equi (<) join of a 5-row frame — a
    // broadcast nested loop, never a cartesian/sort-merge
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"bitmap pair join must broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bitmap pair join must broadcast:\n$p")
  }

  test("m27 trained retrieval: pinned feature frame, broadcast query, TakeOrdered top-5") {
    // the served plan projects the CHECKPOINTED feature frame (render/
    // decode and training never re-run at serving time — LogicalRDD
    // scan), broadcasts the 1-row query vector, and top-5 stays a
    // TakeOrdered
    val p = plan("m27_crossmodal_trained")
    assert(p.contains("Scan ExistingRDD"),
      s"serving must read the pinned feature frame, not re-train:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the query join must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-5 lost its TakeOrdered form:\n$p")
  }

  test("c20 DP release: one scan, join-free, noise math on the grouped output only") {
    val p = plan("c20_dp_release")
    assert(!p.contains("Join"), s"DP release joined:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"DP release made $scans scans:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-source stats not partial-aggregated:\n$p")
  }

  test("q81 count-min: cell grid partial-aggregates; sketch probe joins broadcast") {
    val p = plan("q81_countmin_frequency")
    // the 4xN exploded rows must collapse map-side to <=256 cells before
    // any exchange — the whole reason a sketch beats exact counting
    assert(p.contains("partial_count"), s"cell counts not map-side combined:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"256-cell grid not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"probe join shuffled the sketch:\n$p")
  }

  test("q82 weighted sample: per-source top-k is group-limited, not a full sort") {
    val p = plan("q82_weighted_sample")
    assert(p.contains("WindowGroupLimit"),
      s"A-ES top-k must keep O(k) rows per partition before the shuffle:\n$p")
  }

  test("q84 bucketed join: merge join runs over bucketed scans with no exchange below it") {
    val p = plan("q84_bucketed_colocated_join")
    assert(p.contains("SortMergeJoin"), s"co-location demo lost its merge join:\n$p")
    // the join consumes bucket i of each table directly: the only
    // exchanges in the whole plan are the post-join agg + output sort
    assert(p.contains("Bucketed: true"), s"scans not bucketed:\n$p")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("reuse"))
    assert(exchanges <= 2,
      s"bucketed join still shuffles a fact side ($exchanges exchanges):\n$p")
  }

  test("d37 weighted-Jaccard re-rank: cartesian-free, tf counts partial-aggregate") {
    val p = plan("d37_weighted_jaccard_rerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair scoring went quadratic:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"token frequencies not map-side combined:\n$p")
  }

  test("q85 M4 downsample: one scan, no window, all four extrema partial-aggregate") {
    val p = plan("q85_m4_downsample")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"M4 made $scans scans:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"M4 must be a grouped aggregate, not a window (LTTB-shaped plans don't scale):\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"extrema not map-side combined:\n$p")
  }

  test("q83 max intersections: sweep windows stay day-partitioned (no per-type global sort)") {
    val p = plan("q83_max_intersections")
    val specs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty, s"no window in the sweep plan:\n$p")
    // every window must involve the day bucket — w1 partitions by
    // (type, day), w2 orders the tiny day table by day. A naive global
    // sweep (partition by event_type, order by t) mentions no day at
    // all: the single-task per-key sort this query exists to avoid.
    specs.foreach { l =>
      assert(l.contains("day"),
        s"a window runs without the day decomposition (single-task sort at scale):\n$l\n$p")
    }
  }

  test("q86/q87/q100 sequence folds: one scan, one user shuffle, DP stays in-row") {
    for (name <- Seq("q86_sequence_match_gap", "q87_exp_moving_avg",
        "q100_sequence_next_node")) {
      val p = plan(name)
      val scans = p.linesIterator.count(_.contains("Scan parquet"))
      assert(scans == 1, s"$name made $scans scans:\n$p")
      assert(!p.contains("Join"),
        s"$name must be join-free (a per-stage self-join shuffles events once per step):\n$p")
      assert(!p.contains("windowspecdefinition"),
        s"$name's DP is an in-row fold, not a window:\n$p")
      // exactly one data exchange: the user_id grouping that builds the
      // sorted per-user array (the presentation sort adds a rangepartition)
      val hashEx = p.linesIterator
        .count(l => l.contains("Exchange hashpartitioning"))
      assert(hashEx == 1, s"$name shuffled $hashEx times:\n$p")
    }
  }

  test("q88 Welch test: moments partial-aggregate; only |arms|-row aggregates meet the pair join") {
    val p = plan("q88_welch_ttest")
    // the scale contract: the float stage runs on aggregate outputs only
    // (a BroadcastNestedLoopJoin is expected and FINE here — the non-equi
    // arm_a < arm_b pairing joins two ≤|arms|-row aggregates, never scans)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"moments not map-side combined:\n$p")
    val joinIdx = p.linesIterator.indexWhere(_.contains("Join"))
    val aggIdx = p.linesIterator.indexWhere(_.contains("HashAggregate"))
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"the pair join must sit ABOVE the aggregates (join row counts bounded by arms):\n$p")
  }

  test("d38/d39 signature audits: cartesian-free, one feature projection per pair side") {
    // the d32 lesson: signature and shingle set must ride ONE per-doc
    // projection per pair side, not four separate corpus scans — lock
    // both audits to the already-adjudicated d32 shape (same router,
    // same feature-projection count; the only deltas are the lane→bit
    // map (d38) and the bin-min/densify lanes (d39))
    val d32Scans = plan("d32_minhash_estimator_audit")
      .linesIterator.count(_.contains("Scan parquet"))
    for (name <- Seq("d38_bbit_minhash_audit", "d39_oph_minhash_audit")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name exploded to a cartesian:\n$p")
      val scans = p.linesIterator.count(_.contains("Scan parquet"))
      assert(scans <= d32Scans,
        s"$name re-reads the corpus ($scans scans vs d32's $d32Scans):\n$p")
    }
  }
}
