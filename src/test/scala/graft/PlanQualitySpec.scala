package graft

/** Plan-shape guards: the scale properties the bench depends on, asserted
  * against `.explain` output so a future refactor that silently loses
  * pushdown, broadcast or codegen fails here rather than in the benchmark.
  */
class PlanQualitySpec extends SparkSpec {

  // the pinned prefix/rank shapes are the DISTRIBUTED ones: disable the
  // measured-small-input routing (graft.Small.byEstimate) that would
  // otherwise give sf0.001 inputs their plain-window twin — per test, so
  // the conf does not outlive this suite on the shared session
  override def withFixture(test: NoArgTest) =
    withConf(graft.Small.Key -> "0")(super.withFixture(test))

  private def executedPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf0001)
    df.collect() // materialize so AQE finalizes
    df.queryExecution.executedPlan.toString
  }

  test("q2 filter reaches the parquet scan as PushedFilters with pruned schema") {
    val p = executedPlan("q2_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"))
    assert(p.contains("GreaterThan(l_quantity,45.0)"))
    // projection pruning: the 16-column lineitem scan reads 5 columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"))
  }

  test("q5 six-table join broadcasts dimensions, no sort-merge fallback") {
    val p = executedPlan("q5_join5")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("r_name"))
  }

  test("q1 aggregate runs partial+final inside whole-stage codegen") {
    val p = executedPlan("q1_agg")
    assert(p.contains("partial_"))
    assert(p.contains("*(")) // codegen stage markers
  }

  test("q15 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = executedPlan("q15_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q47 runs through the custom LeapFrogJoin operator") {
    assert(executedPlan("q47_wcoj_triangle").contains("LeapFrogJoin"))
  }

  test("q120 string-keyed WCOJ still runs through LeapFrogJoin (dictionary path)") {
    val p = executedPlan("q120_wcoj_string_triangle")
    assert(p.contains("LeapFrogJoin"),
      s"string-keyed triangle did not reach the WCOJ node:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"string-keyed triangle fell back to an all-pairs join:\n$p")
  }

  test("q224 diamond's five edge copies share ONE distinct-shuffle via ReusedExchange") {
    // the pattern lowering derives every edge copy from the same distinct
    // edge frame; physical CSE must collapse their identical exchanges or
    // a 5-edge pattern pays 5 scans + 5 distinct shuffles of the edge set.
    // Asserted at sf0.01 — at sf0.001 every side broadcasts and there is
    // no hash exchange to reuse (measured healthy at round 12: 1 exchange
    // + 4 ReusedExchange at sf0.01).
    val df = SparkEntry.queries("q224_s3_diamond")(spark, "/root/testdata/sf0.01")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"edge-copy exchanges are no longer deduplicated:\n${p.take(3000)}")
  }

  test("q225 4-clique runs through LeapFrogJoin with the route pinned") {
    val p = executedPlan("q225_s4_clique")
    assert(p.contains("LeapFrogJoin"),
      s"4-clique wcoj route fell back to binary joins:\n${p.take(3000)}")
  }

  test("q227/q228 FULL gate plans (agg above the WCOJ node) keep LeapFrogJoin") {
    // the round-12 pruning bug only manifested with an Aggregate directly
    // above the WCOJ node — so the 5-variable wcoj gates are asserted on
    // the executed plan of the WHOLE gate (groupBy/agg/orderBy included),
    // not the bare pattern frame
    for (q <- Seq("q227_s6_house_x", "q228_s7_dense5")) {
      val p = executedPlan(q)
      assert(p.contains("LeapFrogJoin"),
        s"$q full gate plan lost the WCOJ node:\n${p.take(3000)}")
      // ONE-BAG shape (r13): a cyclic wcoj pattern must not fall back to
      // the GHD hybrid, whose acyclic bag materialized a Σ indeg³ star
      // cube on S7 (15+ s at sf0.1 vs 0.5 s one-bag) — no binary join
      // operator may appear anywhere in the gate plan
      for (bin <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
        assert(!p.contains(bin),
          s"$q regressed to the GHD hybrid ($bin in plan):\n${p.take(3000)}")
    }
  }

  test("q240 core+tail hybrid: LeapFrog core bag AND binary periphery in one plan") {
    // the r14 hybrid: GYO leaves the triangle as the cyclic core, so the
    // full gate plan must carry BOTH a LeapFrogJoin (the core bag) and
    // binary join operators (the 3-hop tail) — a collapse to whole-query
    // one-bag pays trie enumeration over relations a linear join handles,
    // and a collapse to pure binary re-opens the r12 bag-cube class
    val p = executedPlan("q240_coretail_hybrid")
    assert(p.contains("LeapFrogJoin"),
      s"core+tail lost the WCOJ core bag:\n${p.take(3000)}")
    assert(Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
      .exists(p.contains),
      s"core+tail lost the binary periphery (one-bag overshoot):\n${p.take(3000)}")
  }

  test("q62 simhash pairs never go all-pairs: no cartesian/nested-loop join") {
    val p = executedPlan("q62_simhash_hamming")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q87 packing prefix-sum windows are bucket-keyed, never one global task") {
    val docs = Tables(spark, sf0001).documents
    val df = graft.operators.Packing.prefixSummed(docs, "doc_id",
      graft.functions.TextFunctions.tokenCount(
        org.apache.spark.sql.functions.col("text")), 8)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the per-bucket running sum is a Window PARTITIONED by the value-derived
    // bucket — parallel across buckets; a global-order window would plan as
    // an Exchange SinglePartition funneling the corpus through one task
    assert(p.contains("partitionBy=[bkt]") ||
      p.contains("windowspecdefinition(bkt"),
      s"running sum is not keyed by the range bucket:\n$p")
    assert(!p.contains("SinglePartition"),
      s"packShards prefix sum funnels through a single partition:\n$p")
  }

  test("q88 mixture sampling broadcasts the rate table, never shuffles the corpus") {
    val p = executedPlan("q88_mixture_sample")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q94 k-means assignment is join-free: centroids ride as literals") {
    // the scale property of the assign step — model state is inlined into
    // the codegen'd expression, so the data is scanned and never joined
    val p = executedPlan("q94_kmeans")
    assert(!p.contains("Join"), s"k-means assignment plan contains a join:\n$p")
  }

  test("q103 dup-span stats scans and hashes the corpus exactly once, join-free") {
    // AQE's toString repeats the tree under "== Initial Plan ==" — count
    // scans in the final plan only
    val p = executedPlan("q103_dup_spans").split("== Initial Plan ==")(0)
    // per-id doc counts come from a window over the single id exchange; a
    // groupBy+join-back formulation re-scans and re-hashes the corpus for
    // the probe side (and its build side outgrows broadcast at scale)
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"dup-span stats scans the corpus more than once:\n$p")
    assert(!p.contains("Join"), s"dup-span stats plan contains a join:\n$p")
  }

  test("q105 chunking is zero-shuffle: explode in place, no exchange") {
    val p = executedPlan("q105_chunk_windows").split("== Initial Plan ==")(0)
    assert(p.contains("Generate"), s"no explode in chunking plan:\n$p")
    // the orderBy in the gate adds one range exchange for presentation; the
    // chunking operator itself must not add any hash exchange
    assert(!p.contains("hashpartitioning"),
      s"chunking shuffled on a hash key:\n$p")
    assert(!p.contains("Join"), s"chunking plan contains a join:\n$p")
  }

  test("q104 semdedup pair work is cluster-bucketed: no cartesian product") {
    val p = executedPlan("q104_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"semdedup went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"semdedup went nested-loop:\n$p")
  }

  test("q107 classifier scoring is join-free: weights ride as literals") {
    val p = executedPlan("q107_quality_classifier")
    assert(!p.contains("Join"),
      s"classifier scoring plan contains a join:\n$p")
  }

  test("q108 length-bucket rank windows are (bucket, range-bucket)-keyed, offsets broadcast") {
    // same two-phase prefix properties as q87, generalized to groups: the
    // local rank window is keyed by (bucket, __bkt) — never one task per
    // length band — and the tiny offsets table reattaches via broadcast
    val docs = Tables(spark, sf0001).documents
    val df = graft.operators.Packing.lengthBucketBatches(docs, "doc_id",
      graft.functions.TextFunctions.tokenCount(
        org.apache.spark.sql.functions.col("text")), 64, 8, 8)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("partitionBy=[bucket, __bkt]") ||
      p.contains("windowspecdefinition(bucket"),
      s"rank window not keyed by (bucket, __bkt):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"per-slice offsets did not reattach via broadcast:\n$p")
    assert(!p.contains("SinglePartition"),
      s"length-bucket rank funnels through a single partition:\n$p")
  }

  test("q110/q111 BPE plans: pair counts TakeOrdered, encode join-free") {
    val p110 = executedPlan("q110_bpe_merges")
    // learnMerges' winner selection per round is orderBy+limit(1) which
    // must plan as TakeOrderedAndProject during construction, and the gate
    // output itself is driver-side model state (a local scan, no join)
    assert(!p110.contains("Join"), s"BPE merge table plan has a join:\n$p110")
    val p111 = executedPlan("q111_bpe_encode")
    assert(!p111.contains("Join"), s"BPE encode plan has a join:\n$p111")
    assert(!p111.contains("hashpartitioning"),
      s"BPE encode shuffled on a hash key:\n$p111")
  }

  test("q75 repetition stats are a pure projection: no join, no aggregation exchange") {
    // per-row facts must not cost the corpus a shuffle; the only exchange
    // allowed is the final presentation orderBy (range partitioning)
    val p = executedPlan("q75_doc_repetition")
    assert(!p.contains("Join"))
    assert(!p.contains("hashpartitioning"))
  }

  test("q116 CMS probe joins the sketch broadcast, never sort-merge") {
    // the sketch is bounded (depth × width rows) by construction, so the
    // probe side must keep its partitioning: a SortMergeJoin here means the
    // broadcast hint was lost and the probe side started shuffling for a
    // join against ≤256 rows
    val p = executedPlan("q116_cms_freq")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q122 line dedup: verdict on line hashes, partial agg, no cross join") {
    // the boilerplate verdict must aggregate md5 line-hashes (partial+final,
    // never raw line bytes as the shuffle key payload beyond the hash) and
    // the verdict join must not degenerate to a cartesian
    val p = executedPlan("q122_line_dedup")
    assert(!p.contains("CartesianProduct"), s"line-dedup went all-pairs:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q130 repeated-ngram inventory: one map-side-combined aggregate, no join") {
    val p = executedPlan("q130_repeated_ngrams")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"ngram inventory should be join-free:\n$p")
  }

  test("q131 span decontam: benchmark hashes broadcast, no cartesian") {
    // the benchmark side is tiny (distinct window hashes of the eval split)
    // — it must ride a broadcast, and nothing may degenerate to all-pairs
    val p = executedPlan("q131_span_decontam")
    assert(!p.contains("CartesianProduct"), s"decontam went all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"benchmark side not broadcast:\n$p")
  }

  test("q129 domain weights: corpus scalars ride broadcasts, domain agg partial") {
    val p = executedPlan("q129_domain_weights")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"one-row scalars not broadcast:\n$p")
  }

  test("explicit bloom probe (bloomFlag) is native might_contain, not a UDF") {
    // the probe side of incremental dedup scans the full batch — a Scala
    // UDF there breaks the whole-stage-codegen span on the hottest column
    val t = Tables(spark, sf0001)
    val keys = t.documents.select(org.apache.spark.sql.functions.col("doc_id"))
    val bf = operators.Sketches.bloomFilter(keys.filter("doc_id % 2 = 0"), "doc_id", 1000L)
    val flagged = operators.Sketches.bloomFlag(keys, "doc_id", bf)
    val p = flagged.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"), s"probe not native:\n$p")
    assert(!p.contains("UDF"), s"probe fell back to a UDF:\n$p")
    // semantics: no false negatives, NULL-safe false
    val hits = flagged.filter("in_bloom").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keys.filter("doc_id % 2 = 0").collect().map(_.getLong(0)).forall(hits))
  }

  test("runtime Bloom-filter pruning reaches the fact side of a shuffle join") {
    val es = graft.api.EngineSession(spark)
    // every conf this test sets goes back to its prior value (or unset), so
    // later suites on the shared session plan under the defaults; the
    // filter starts switched off, so only enableRuntimeFiltering can inject
    // it, and the join is forced to shuffle so the filter has a scan worth
    // pruning
    withConf("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      es.enableRuntimeFiltering(applicationSideThreshold = "1B", creationSideThreshold = "100MB")
      val t = Tables(spark, sf0001)
      val li = t.lineitem
      val dim = t.orders.filter(org.apache.spark.sql.functions.col("o_orderkey") % 100 === 0)
      val joined = li.join(dim, li("l_orderkey") === dim("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter") || plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      joined.collect() // the filtered plan still executes correctly
    }
  }

  test("q160 interval join is a hash equi-join on the bucket, never a nested loop") {
    val p = executedPlan("q160_interval_join")
    assert(!p.contains("CartesianProduct"),
      s"interval join went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval join fell back to a nested loop:\n$p")
    assert(p.contains("__bucket"), s"bucket key missing from the join:\n$p")
  }

  test("q167 containment joins on the shingle inverted index, never doc×doc") {
    val p = executedPlan("q167_containment")
    assert(!p.contains("CartesianProduct"), s"containment went all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"containment nested-loop:\n$p")
  }

  test("q163 source cosine joins on the token, with broadcast norm attach") {
    val p = executedPlan("q163_source_cosine")
    assert(!p.contains("CartesianProduct"), s"source cosine went all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"norms not broadcast:\n$p")
  }

  test("q154 gap-fill grid join is a hash join, never a nested loop") {
    val p = executedPlan("q154_gap_fill_locf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"gap-fill grid join degenerated:\n$p")
  }

  test("q168 interleave ranks rows inside range buckets, not one global window") {
    val p = executedPlan("q168_interleave")
    // the two-phase prefix: corpus rows rank within range-partitioned
    // buckets (__bkt) and only the per-bucket COUNT table (rows = bucket
    // count, not corpus size) passes through a single partition
    assert(p.contains("Exchange rangepartitioning"),
      s"no range bucketing in the interleave plan:\n$p")
    assert(p.contains("windowspecdefinition(__bkt"),
      s"corpus rows not ranked per bucket:\n$p")
  }

  test("q190 unimax: corpus feeds ONE partial aggregate; no corpus-sized shuffle") {
    val p = executedPlan("q190_unimax_alloc")
    // the per-language count is map-side combined before its (tiny) shuffle
    assert(p.contains("partial_sum"), s"language counts not partial-agg'd:\n$p")
    // allocation tables ride broadcasts, never a real join exchange
    assert(!p.contains("SortMergeJoin"), s"allocation join shuffled the corpus:\n$p")
  }

  test("q192 sq8: calibration is a map-side-combined per-dim aggregate, stats broadcast") {
    val p = executedPlan("q192_sq8_topk")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"per-dim [min,max] not map-side combined before the d-group shuffle:\n$p")
    assert(p.contains("BroadcastExchange"), s"stats/query side not broadcast:\n$p")
  }

  test("q194 token drift: top movers via TakeOrderedAndProject, not a vocab-wide window") {
    val p = executedPlan("q194_token_drift")
    assert(p.contains("TakeOrderedAndProject"),
      s"drift top-N lost the per-partition-heap shape:\n$p")
    assert(p.contains("partial_count"), s"token counts not map-side combined:\n$p")
  }

  test("q201 suffix dup: both seed windows share ONE exchange, no all-pairs join") {
    val p = executedPlan("q201_suffix_dup")
    // the cap filter and the sorted lag window both partition on the seed;
    // Catalyst must reuse a single hashpartitioning(span) exchange — two
    // would re-shuffle the suffix table between the cap and the sort
    val spanExchanges = "hashpartitioning\\(span".r.findAllIn(p).size
    assert(spanExchanges >= 1 && spanExchanges <= 2,
      s"suffix table shuffled $spanExchanges times on the seed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"suffix dedup fell back to an all-pairs join:\n$p")
    // the topN report ranks via sort+limit (per-partition heaps + driver
    // merge); the residual rank window sees ≤ topN survivor rows. A
    // row_number window straight over the survivor aggregate would funnel
    // the whole cross-doc boilerplate inventory through one task.
    assert(p.contains("TakeOrderedAndProject"),
      s"suffix-dup top-N lost the per-partition-heap shape:\n$p")
  }

  test("q175 pmi bigrams: top collocations via TakeOrderedAndProject, not a vocab²-wide window") {
    val p = executedPlan("q175_pmi_bigrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"pmi top-K lost the per-partition-heap shape:\n$p")
    assert(p.contains("partial_count"), s"bigram counts not map-side combined:\n$p")
  }

  test("q202 script profile is one shuffle-free codegen'd projection") {
    val df = SparkEntry.queries("q202_script_mix")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the orderBy is the gate's presentation sort; the profile itself must
    // add no aggregation and no join — per-row regex work only
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"script profile grew a shuffle/join stage:\n$p")
    assert(p.contains("*("), s"script profile fell out of codegen:\n$p")
  }

  test("q203 domain tilt: corpus scalars ride broadcasts, domain agg partial") {
    val p = executedPlan("q203_domain_tilt")
    assert(p.contains("partial_count"), s"domain counts not map-side combined:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"corpus mean / normalizer not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"scalar attach became a real cartesian:\n$p")
  }

  test("q222 DSL expressions reach the scan as pushed filters with pruned schema") {
    val p = executedPlan("q222_dsl_exprs")
    // the symbol DSL lowers to ordinary Catalyst expressions — the filter
    // must reach the parquet scan and the 11-column lineitem read must
    // prune to the 6 referenced columns, exactly as the SQL form would
    // plan toString truncates long field lists — match the visible prefix
    assert(p.contains("GreaterThanOrEqual(l_quantity,30"),
      s"DSL filter not pushed to the scan:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_discount:dou"),
      s"DSL projection did not prune the scan:\n$p")
    assert(p.contains("*("), s"DSL expressions fell out of codegen:\n$p")
  }

  test("q220 subgraph endpoint semi-joins broadcast the vertex filter, no SMJ") {
    val p = executedPlan("q220_graph_subgraph")
    // the surviving-vertex set is tiny (≤211 ids): both endpoint
    // semi-joins must ride broadcasts, never a sort-merge of the edges
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"subgraph endpoint filter lost the broadcast semi-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"subgraph filtering fell back to sort-merge:\n$p")
  }
}
