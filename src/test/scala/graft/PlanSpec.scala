package graft

import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan properties the 100 TB design rests on. A plan
  * regression here (lost pushdown, un-broadcast dim, sort instead of
  * top-k heap) would not change results, only make them 100× slower at
  * scale — so it must fail a test, not wait for a benchmark.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q01: filter and column pruning reach the parquet scan") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate filter must be pushed to the scan")
    assert(!p.contains("l_orderkey"), "unused columns must be pruned from the scan")
  }

  test("q03: dimension joins broadcast, no sort-merge for dims") {
    val p = planOf("q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), "customer/orders dims should broadcast at this SF")
    assert(p.contains("TakeOrderedAndProject"),
      "LIMIT+ORDER BY must plan as a top-k heap, not a global sort")
  }

  test("q09: top-k plans as TakeOrderedAndProject (per-partition heaps)") {
    assert(planOf("q09_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("q34: scoring projection stays in whole-stage codegen (native dot)") {
    val p = planOf("q34_dedup_embedding_cosine")
    assert(p.contains("float_dot"), "native FloatDot expression expected in plan")
    assert(p.contains("embed_simhash"),
      "native EmbedSimHash candidate generation expected in plan")
    assert(!p.contains("lambdafunction"),
      "no interpreted higher-order functions in the scoring path")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "embedding near-dup must never plan an all-pairs join")
  }

  test("q51: centroid set is fixed-K (top-k limit), not corpus-proportional") {
    val p = planOf("q51_ann_ivf")
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"),
      "fixed-K centroid selection must plan as a limit, not a corpus scan")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "assignment must be a K-row broadcast nested loop, not a cartesian")
  }

  test("q30: exchanges key on the content hash, never the raw text") {
    // hash-first exact dedup: the only corpus-sized shuffle must be keyed
    // by (md5, n_chars) with the text column projected away before the
    // exchange — and the plan must partial-aggregate (no window sort)
    val p = planOf("q30_dedup_exact")
    assert(p.contains("md5"), "content-hash key expected in the plan")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, "expected at least one exchange")
    assert(exchanges.forall(l => !l.contains("text")),
      s"no exchange may carry or key on the raw text: $exchanges")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      "hash-first dedup must be an aggregation, not a partition-wide window sort")
  }

  test("q32/q33/q43: no single-partition exchange (dictionary-free ids)") {
    // the r1 dictionary used row_number over a global window, which forces
    // the whole vocabulary through ONE task (Exchange SinglePartition);
    // md5-derived content ids are a pure projection — pin the absence
    for (q <- Seq("q32_dedup_minhash_lsh", "q33_dedup_simhash",
        "q43_fingerprint")) {
      val p = planOf(q)
      assert(!p.contains("SinglePartition"),
        s"$q must not move the vocabulary through a single partition")
    }
  }

  test("q63: value filter is pushed into the ORC scan") {
    val p = planOf("q63_orc_scan")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(value"),
      "the value predicate must reach the ORC reader, not a post-scan filter")
  }

  test("q66: partition filter prunes event_type directories at the scan") {
    val p = planOf("q66_partition_pruning")
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      "the event_type predicate must prune partitions, not filter rows")
    // pruned scans read only 2 of 5 partition dirs; the data files carry
    // no event_type column, so it must not appear in ReadSchema
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("event_type"),
      s"event_type must be a partition column, not a data column: $readSchema")
  }

  test("q52: one hash exchange serves both the window and the session agg") {
    // sessionization shuffles once on user_id; the lag window, running
    // sum, and per-(user, session) aggregate all reuse that partitioning.
    // A second hash exchange would mean the agg re-shuffles — the thing
    // that would double the network cost at 100 TB. (The final orderBy's
    // range exchange over the aggregated rows is fine.)
    val p = planOf("q52_sessionize")
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1, s"expected exactly 1 hash exchange, got:\n$hashEx")
    assert(hashEx.head.contains("user_id"), "the one exchange keys on user_id")
  }

  test("q95: frame sampling is shuffle-free (explode, no hash exchange)") {
    val p = planOf("q95_multimodal_frame_sample")
    assert(!p.contains("Exchange hashpartitioning"),
      "resize + frame-sample is per-row work; a hash exchange means a bug")
    assert(p.contains("Generate"), "frame indices explode via Generate")
  }

  test("q104: chunking is shuffle-free per-row generation") {
    // context-window chunking is embarrassingly parallel; any hash
    // exchange before the presentation sort means the plan stopped
    // being a single scan
    val p = planOf("q104_doc_chunking")
    assert(!p.contains("Exchange hashpartitioning"),
      "chunk generation must not shuffle")
    assert(p.contains("Generate"), "chunk starts explode via Generate")
    assert(!p.contains("lambdafunction"),
      "chunk slicing must stay codegen-able (no interpreted lambdas)")
  }

  test("q105: corpus gram stream is probed raw, never aggregated or exchanged") {
    // the decontamination plan's whole point: the training-corpus side
    // flows scan → explode → semi-join against the BROADCAST eval gram
    // set. A distinct on the shared gram stream (the shape this pin
    // guards against — it shipped once) exchanges the full corpus gram
    // dictionary, which at 100 TB is the dominant cost of the query.
    val p = planOf("q105_decontamination")
    assert(p.contains("LeftSemi"),
      "corpus grams must semi-probe the broadcast eval set")
    // the only per-doc gram distinct (keys = doc_id, ng) is the
    // eval-side partial+final pair; a corpus-side distinct doubles it
    val docGramAggs = "HashAggregate\\(keys=\\[doc_id#\\d+L?, ng#\\d+"
      .r.findAllIn(p).size
    assert(docGramAggs == 2,
      s"expected only the eval-side (doc_id, ng) distinct pair, found $docGramAggs")
    // and, as everywhere: no exchange may carry the raw document text
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => !l.contains("text#")),
      s"no exchange may carry document text: $exchanges")
  }

  test("q106: packing window is sharded and its exchange feeds the agg") {
    // the running-offset window is packing's one sequential step; keyed
    // by `source` alone it sorts a whole source in ONE task (fatal when
    // a single crawl dominates a 100 TB corpus). Pin (a) every window in
    // the plan partitions by (source, shard), (b) exactly one hash
    // exchange — the aggregation's (source, shard, bin) keys are a
    // superset of the window's partitioning, so it must reuse the
    // exchange, not add a second corpus shuffle.
    val p = planOf("q106_sequence_packing")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, "expected a running-offset window in the plan")
    assert(winLines.forall(l => l.contains("source#") && l.contains("shard#")),
      s"every window must partition by (source, shard):\n${winLines.mkString("\n")}")
    val hashEx = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1,
      s"expected exactly 1 hash exchange (window + agg share it), got:\n$hashEx")
    assert(hashEx.head.contains("source#") && hashEx.head.contains("shard#"),
      "the one exchange keys on (source, shard)")
  }

  test("q110/q111: retrieval top-k cuts are heaps; no corpus cartesian") {
    // BM25's top-k must be TakeOrdered (per-partition heap + driver merge
    // of k rows) — a global Sort over matched docs would be corpus-sized
    // for a common query term. The only nested-loop joins allowed are the
    // 1-row broadcasts (corpus stats / probe vector); a CartesianProduct
    // would mean a corpus×corpus arm.
    for (q <- Seq("q110_bm25_topk", "q111_hybrid_rrf")) {
      val p = planOf(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: top-k must plan as a heap, not a global sort")
      assert(!p.toLowerCase.contains("cartesianproduct"),
        s"$q: no unhinted cartesian anywhere in the retrieval path")
    }
  }

  test("q109: keeper window partitions by component, never corpus-wide") {
    // the argmax-quality window must key on the duplicate component —
    // an unpartitioned window here would sort every cluster member in
    // one task; partitioned, each partition is one (small) cluster.
    val p = planOf("q109_dedup_keep_best")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, "expected the argmax window in the plan")
    assert(winLines.forall(_.contains("windowspecdefinition(comp#")),
      s"keeper window must partition by comp:\n${winLines.mkString("\n")}")
  }

  test("q112: corpus never reshuffles — eval grams and leak ids both broadcast") {
    // the filter action inherits q105's asymmetric-membership design and
    // adds a second asymmetry: the contaminated-id set (leakage — small by
    // construction) must BROADCAST into the corpus-side left join. A
    // sort-merge there would shuffle the full corpus on doc_id; a distinct
    // on the corpus gram stream would exchange the gram dictionary.
    val p = planOf("q112_decontaminate_corpus")
    assert(p.contains("LeftSemi"),
      "corpus grams must semi-probe the broadcast eval gram set")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftOuter")),
      "contaminated ids must broadcast into the corpus left join")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-keyed sort-merge join anywhere in the filter path")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => !l.contains("text#")),
      s"no exchange may carry document text: $exchanges")
  }

  test("q113: df counting pays gram-keyed exchanges only; cut is a heap") {
    // cross-document frequency is inherently gram-keyed — the exchange is
    // the point — and the top-20 cut must be TakeOrdered (a global Sort
    // over the gram dictionary would be vocabulary-sized).
    //
    // Test scale: the 65 KB documents scan estimates ONE split, below
    // local[4]'s parallelism, so Pipeline.docsSpread fires by design —
    // Scale.spreadForFanout's docstring (Core.scala) promises a spread
    // exactly when the scan is under-split and a no-op where it arrives
    // pre-split. Its hashpartitioning(doc_id) REPARTITION_BY_NUM exchange
    // moves documents ahead of the explode, never grams, and it satisfies
    // the (ng, doc_id) distinct's clustering, so it replaces that pair
    // exchange rather than adding one. Allowed here: at most ONE such
    // spread, below the Generate; every other hash exchange is gram-keyed.
    val q = "q113_boilerplate_ngrams"
    def hashExOf(plan: String): Seq[String] = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
    val p = plan.toString
    val (gramEx, otherEx) = hashExOf(p).partition(_.contains("ng#"))
    assert(gramEx.nonEmpty, s"the df count must pay a gram-keyed exchange:\n$p")
    val spread =
      "Exchange hashpartitioning\\(doc_id#\\d+L?, \\d+\\), REPARTITION_BY_NUM".r
    assert(otherEx.size <= 1 && otherEx.forall(spread.findFirstIn(_).isDefined),
      s"the only non-gram hash exchange allowed is one doc_id spread:\n" +
        otherEx.mkString("\n"))
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val spreads = root.collect {
      case e: ShuffleExchangeExec
          if spread.findFirstIn(e.simpleString(25)).isDefined => e
    }
    val underGenerate = root.collect {
      case g: GenerateExec => g.child.collect { case e: ShuffleExchangeExec => e }
    }.flatten
    assert(spreads.size == otherEx.size &&
      spreads.forall(e => underGenerate.exists(_ eq e)),
      s"the doc_id spread must sit below the explode (documents, never grams):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 boilerplate cut must plan as a heap, not a global sort")
    assert(!p.contains("lambdafunction"),
      "gram generator must stay codegen-able (no interpreted lambdas)")
    // Production scale carries the original pin — never a doc- or
    // corpus-keyed shuffle: the partial (ng, doc_id) dedup pair plus the
    // (ng) final only. maxPartitionBytes=4096 pre-splits the scan to
    // ceil((65,515 B + 4 MiB open cost) / 4096) = 1040 >= 4 estimated
    // splits, so the spread must be a no-op.
    val preSplit = spark.newSession()
    preSplit.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    val hashEx = hashExOf(
      SparkEntry.queries(q)(preSplit, sf).queryExecution.executedPlan.toString)
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("ng#")),
      s"every hash exchange must key on the gram:\n${hashEx.mkString("\n")}")
  }

  test("q117: rank window input is prefiltered by the broadcast threshold") {
    // the exact per-source rank must run over ~CapN survivors, never the
    // whole source: the plan needs the broadcast threshold join and a
    // Filter on (b <= bstar) feeding the window — without them this is
    // the q106 skew trap (one task sorts the dominant source)
    val p = planOf("q117_source_cap")
    assert(p.contains("BroadcastHashJoin"),
      "per-source thresholds must broadcast into the corpus side")
    // Catalyst folds the b <= bstar predicate into the broadcast join
    // condition itself (and adds WindowGroupLimit rank pushdown on top) —
    // accept the predicate anywhere below the rank window
    assert(p.contains("<= bstar#"),
      "corpus rows must be prefiltered by the calibrated threshold")
    assert(p.contains("WindowGroupLimit"),
      "rank-limit pushdown must prune each partition before the sort")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "threshold join must be keyed, not a cartesian")
  }

  test("q119: correlated scalar subquery is decorrelated to agg + join") {
    // RewriteCorrelatedScalarSubquery must turn the per-part avg into a
    // grouped aggregate joined back to lineitem — a surviving Subquery
    // node or a cartesian would mean per-row re-execution
    val p = planOf("q119_correlated_scalar")
    assert(!p.contains("Subquery"),
      "correlated scalar subquery must be decorrelated before execution")
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("l_partkey")),
      "decorrelation must produce the per-partkey aggregate")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("q39: bigram generator stays out of the interpreted-lambda path") {
    val p = planOf("q39_bigram_topk")
    assert(!p.contains("lambdafunction"),
      "bigrams must explode integer positions, not a transform(λ) result")
  }

  test("runtime bloom-filter pruning injects on a selective fact-dim join") {
    // At 100 TB the cheapest row is the one never shuffled: with
    // spark.sql.optimizer.runtime.bloomFilter.enabled, Catalyst builds a
    // bloom filter from the filtered dim side and semi-prunes the fact
    // scan BEFORE the join exchange. The size thresholds exist for tiny
    // inputs, so this pin drops them to zero to prove the rewrite fires
    // on our plan shapes (production leaves the defaults).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.functions._
      val li = Tables.t(spark, sf, "lineitem")
      val pt = Tables.t(spark, sf, "part")
        .filter(col("p_size") === 1) // selective dim predicate
        .select(col("p_partkey"))
      val j = li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_returnflag")).count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"expected a runtime bloom filter (might_contain) in:\n$opt")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("q101: fuzzy join is an equi-block join, never a nested loop") {
    // the whole point of blocking: the quadratic term lives INSIDE a
    // block. If the optimizer ever demotes the (brand, type) equi-keys
    // to a join condition on a BroadcastNestedLoopJoin/CartesianProduct,
    // the plan becomes all-pairs over the table — fine at sf0.1, fatal
    // at 100 TB.
    val p = planOf("q101_fuzzy_name_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "block keys must drive a hash or sort-merge join")
    assert(!p.toLowerCase.contains("cartesianproduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "fuzzy matching must never plan as an all-pairs join")
  }

  test("native expressions are SQL-callable once registered") {
    // the injector itself is exercised for shape (extensions only apply
    // at session build); SQL callability goes through the SAME builders
    // via the registry bridge, so literal extraction and arity checks are
    // the production code paths
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
    GraftExtensions.functions.foreach { case (name, _, build) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(
        spark, name, build)
    }
    import spark.implicits._
    val one = Seq((Seq(3.0f, 4.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    one.createOrReplaceTempView("v_fd")
    val r = spark.sql(
      """SELECT float_dot(a, b) AS d, float_norm(a) AS n,
        |       embed_simhash(a, 16) AS s FROM v_fd""".stripMargin).collect()
    assert(r.head.getDouble(0) === 25.0)
    assert(r.head.getDouble(1) === 5.0)
    val colSig = one.select(graft.functions.VectorFunctions
      .embed_simhash(org.apache.spark.sql.functions.col("a"), 16))
      .collect().head.getLong(0)
    assert(r.head.getLong(2) === colSig,
      "SQL and Column API must produce the same signature")
    assert(colSig >= 0L && colSig < (1L << 16))
    // non-literal bits must be rejected, not silently miscompiled
    intercept[Exception](spark.sql("SELECT embed_simhash(a, CAST(n_x AS INT)) FROM v_fd"))
  }
  test("q122: passage argmin stays in hash aggregation (no per-task sort)") {
    // min(struct) would plan SortAggregate + Sort per task; the packed
    // int64 argmin must keep every aggregate in HashAggregate codegen
    val p = planOf("q122_dedup_passages")
    assert(!p.contains("SortAggregate"),
      "packed-argmin aggregation must not fall back to SortAggregate")
  }

  test("q121: candidate recount joins via broadcast, no sort-merge join") {
    val p = planOf("q121_heavy_hitters_mg")
    assert(p.contains("BroadcastHashJoin"),
      "MG candidate set must broadcast into the exact recount")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized shuffle join in the heavy-hitter path")
  }

  test("q133: dictionary joins broadcast; pair space never cartesian") {
    val p = planOf("q133_token_cooccurrence")
    assert(p.contains("BroadcastHashJoin"),
      "top-20 dictionary joins must broadcast")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "co-occurrence must come from within-doc pair explode, not a cross join")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join anywhere in the co-occurrence path")
  }

  test("q147: train grams only ever broadcast-filtered, never shuffle-joined") {
    // q105's asymmetric-membership discipline: the corpus-sized train side
    // must be reduced by BROADCAST eval dictionaries before its count
    // aggregations, and the model tables must broadcast back into the
    // eval probe — a SortMergeJoin anywhere means a corpus-keyed shuffle
    // of the gram stream, the thing that dominates at 100 TB.
    val p = planOf("q147_lm_quality_score")
    assert(p.contains("BroadcastHashJoin"),
      "eval dictionaries must broadcast into the train-side filters")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join anywhere in the scoring path")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => !l.contains("text#")),
      s"no exchange may carry document text: $exchanges")
  }

  test("q148: PPS window partitions by the stratum; totals broadcast") {
    // systematic sampling's prefix sum is per-stratum sequential by
    // definition — the window must key on the segment (never global),
    // and the per-segment totals join must broadcast (5 rows).
    val p = planOf("q148_pps_systematic_sample")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("c_mktsegment#")),
      s"cumulative window must partition by segment:\n${winLines.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"),
      "per-segment stride totals must broadcast")
    assert(!p.contains("SortMergeJoin"), "no shuffle join in the sample path")
  }

  test("q151: each profile branch scans exactly its own column") {
    // branch-per-column profile: 11 scans, but parquet prunes each to a
    // SINGLE column, so total bytes read equal one full-width scan — and
    // no Generate fan-out or string rendering exists anywhere (the r2–r8
    // unpivot form materialized 11N generator rows and shuffled string
    // keys; the branch form measured ~3× cheaper at sf0.1)
    val p = planOf("q151_column_profile")
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.size == 11, s"expected 11 branch scans, got $schemas")
    assert(schemas.forall(s => s.count(_ == ':') == 1),
      s"every branch scan must prune to exactly ONE column: $schemas")
    assert(!p.contains("Generate"),
      "no unpivot generator — branches aggregate native columns directly")
  }

  test("q152: one user-keyed exchange feeds both the lead window and the agg") {
    // group key == window partition key → Catalyst must reuse the sort
    // and exchange; a second hash exchange would re-shuffle the events
    val p = planOf("q152_time_weighted_avg")
    val hashEx = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1,
      s"expected exactly 1 hash exchange (window + agg share it), got:\n$hashEx")
    assert(hashEx.head.contains("user_id"), "the one exchange keys on user_id")
  }

  test("q156: CDC compaction is a pure hash aggregate — no window, no per-key sort") {
    // the load-bearing choice: max_by partial-aggregates map-side, so the
    // exchange carries ≤ |keys| rows per partition; a row_number window
    // would shuffle + sort the full changelog
    val p = planOf("q156_cdc_compaction")
    assert(!p.contains("Window"), "compaction must not plan a window")
    assert(p.contains("max_by"), "last-writer-wins must be max_by aggregates")
    val hashEx = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1 && hashEx.head.contains("user_id"),
      s"one user_id exchange expected, got:\n$hashEx")
  }

  test("q159: CM cell lookup broadcasts; candidates come from a top-k heap") {
    val p = planOf("q159_countmin_sketch")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 candidates must plan as a heap, not a global sort")
    assert(p.contains("BroadcastHashJoin"),
      "the 1024-cell counter table must broadcast to the candidates")
    assert(!p.contains("SortMergeJoin"), "nothing here justifies a sort-merge")
  }

  test("q160: grid and total broadcast back to the fact side; no sort-merge join") {
    // the cumulative window runs over the ≤500-row $1000 grid — the fact
    // table must re-join it via broadcast, never co-shuffle with it
    val p = planOf("q160_calibration_bins")
    assert(p.contains("BroadcastHashJoin"), "grid must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "fact-side rows must never shuffle against the tiny grid")
  }

  test("q175: LATERAL LIMIT decorrelates to rank-pushdown, not a per-row subquery") {
    // the correlated LATERAL (ORDER BY + LIMIT 2) must become ONE
    // o_custkey exchange with WindowGroupLimit pruning BEFORE it (each
    // task keeps ≤2 rows per key pre-shuffle), joined broadcast-side to
    // the filtered customer dim; a surviving Subquery node would mean a
    // per-customer re-scan of orders — quadratic at scale
    val p = planOf("q175_lateral_topn")
    assert(!p.contains("Subquery"), "no per-row correlated subquery may survive")
    assert(p.contains("WindowGroupLimit"),
      "per-key LIMIT must push a group-limit below the exchange")
    assert(p.contains("BroadcastHashJoin"),
      "filtered customer side must broadcast")
  }

  test("q158/q163: explicit-count spread survives below the amplifying generator") {
    // sub-4MB inputs scan as one split and a bare repartition(col) is
    // AQE-coalescible (it sizes on shuffle BYTES, blind to the 64×/2080×
    // explode fan-out downstream) — the fix is REPARTITION_BY_NUM, which
    // AQE must honor; regressing to either trap re-serializes the whole
    // hash/outer-product stage onto one task (measured 7.3 s vs 1.2 s)
    for (q <- Seq("q158_bootstrap_ci", "q163_embedding_covariance")) {
      val p = planOf(q)
      assert(p.contains("REPARTITION_BY_NUM"),
        s"$q: explicit-count repartition must precede the generator")
      val gen = p.linesIterator.indexWhere(_.contains("Generate"))
      assert(gen >= 0, s"$q: expected a Generate node")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew-join rewrite)") {
    // the join-side answer to q29's aggregation salting: when one key
    // dominates a shuffle join, AQE must split the oversized partition
    // into parallel sub-tasks instead of letting one task process it
    // alone. Planted 90%-hot-key data; thresholds lowered so the rewrite
    // triggers at test scale (production keeps defaults — the split only
    // pays off when a partition is actually huge). Pinned on the FINAL
    // adaptive plan: the SMJ must be marked skew=true after execution.
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10KB")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val left = ss.range(0, 20000)
      .select((when(col("id") % 10 === 0, 7L).otherwise(col("id"))).as("k"),
        concat(lit("x"), col("id").cast("string")).as("pad"))
    val right = ss.range(0, 2000)
      .select((when(col("id") % 10 === 0, 7L).otherwise(col("id"))).as("k"),
        col("id").as("v"))
    val j = left.join(right, "k")
    j.collect() // materialize THIS QueryExecution so AQE finalizes its plan
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"AQE skew-join rewrite did not fire; final plan:\n${p.take(1500)}")
  }

  test("InjectRuntimeFilter: selective dim filter becomes a bloom row-filter on the fact scan") {
    // the optimizer-injected counterpart of q192's explicit operator and
    // q190's partition pruning: on a SHUFFLE join with a selectively
    // filtered creation side, Spark plants a bloom_filter_agg subquery
    // on the dim and a might_contain predicate on the fact leg, dropping
    // non-joining fact rows BEFORE the exchange. At 100 TB this is the
    // row-level analogue of DPP for non-partition join keys. Thresholds
    // lowered to fire at test scale (production defaults: creation side
    // < 100MB, application scan > 10GB — exactly the 1000-executor
    // star-join regime).
    val ss = spark.newSession()
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ss.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    import org.apache.spark.sql.functions.{col, count, lit}
    val li = graft.Tables.t(ss, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = graft.Tables.t(ss, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
      s"runtime bloom filter did not inject; plan:\n${p.take(2000)}")
  }

  test("BoundedLevenshteinPrefilter: naive edit-distance predicate gets banded + prefiltered") {
    // the injected Rule[LogicalPlan] must rewrite `levenshtein(a,b) <= k`
    // (full O(|a|·|b|) DP per row) into the length-gap prefilter + the
    // k-banded 3-arg levenshtein — q101's hand optimization, automated.
    // Results must be unchanged row-for-row (the rewrite is lossless).
    val ss = spark.newSession()
    ss.experimental.extraOptimizations =
      Seq(graft.plans.BoundedLevenshteinPrefilter)
    // local test data would otherwise be folded away before the rewrite
    // is observable (parquet inputs, as in production, are never folded)
    ss.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    import ss.implicits._
    val d = Seq(("kitten", "sitting"), ("flaw", "lawn"), ("a", "abcdefgh"),
      ("same", "same"), (null, "x"))
      .toDF("a", "b")
    val naive = d.filter(levenshtein(col("a"), col("b")) <= lit(2))
    val opt = naive.queryExecution.optimizedPlan.toString
    assert(opt.contains("levenshtein") && opt.contains("Some(2)"),
      s"banded (3-arg) levenshtein expected in optimized plan:\n$opt")
    assert(opt.contains("abs((length"),
      s"length-gap prefilter expected in optimized plan:\n$opt")
    val got = naive.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("flaw", "lawn"), ("same", "same")),
      s"rewrite changed results: $got")
  }

  test("q190: dynamic partition pruning fires on the fact scan") {
    // the filtered dim's broadcast must be reused as a runtime pruning
    // subquery on the partitioned fact scan — losing it means reading
    // every partition for a 2-partition answer (at 100 TB: the quarter
    // join reading years)
    val p = planOf("q190_dynamic_partition_pruning")
    assert(p.contains("dynamicpruning"),
      "fact scan must carry a dynamicpruningexpression PartitionFilter")
    assert(p.contains("BroadcastHashJoin"), "dim must broadcast")
  }

  test("q192: bloom probe filters the gram stream in place, before any exchange") {
    // the sketch must be a subquery-built bloom_filter_agg and the
    // might_contain probe must sit in the corpus branch's Filter BELOW
    // the first exchange — pushing the probe after a shuffle (or losing
    // it to an exact-set broadcast join) re-creates the multi-GB build
    // side the operator exists to avoid at 100 TB
    val p = planOf("q192_bloom_decontamination")
    assert(p.contains("bloom_filter_agg"),
      "sketch must be built by Spark's BloomFilterAggregate")
    assert(p.contains("might_contain"),
      "corpus stream must be probed by the codegen'd BloomFilterMightContain")
    // the probe is part of the generator-side filter, i.e. appears in a
    // Filter/Project line, not only inside the subquery section
    val probeLines = p.linesIterator.filter(_.contains("might_contain")).toSeq
    assert(probeLines.nonEmpty)
  }

  test("q193: recursion plans as UnionLoop; final argmax stays hash-aggregated") {
    val p = planOf("q193_recursive_cte")
    assert(p.contains("UnionLoop"),
      "WITH RECURSIVE must plan Spark's UnionLoop iterative operator")
    assert(!p.contains("SortAggregate"),
      "packed-int64 argmax must stay in HashAggregate (q122 discipline)")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("q194: quantized scoring is native long_dot; probes broadcast, no cartesian") {
    val p = planOf("q194_quantized_ann")
    assert(p.contains("long_dot"), "native LongDot expected in the scoring path")
    assert(p.contains("float_dot"), "fp32 reference ranking shares the same pass")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "probe set must broadcast — the corpus side never shuffles")
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("q195: one user-keyed exchange feeds both windows and the aggregate") {
    // the islands lag window, running sum, per-island aggregate and
    // valid_to lead must all reuse hashpartitioning(user_id) — a second
    // user-keyed exchange would reshuffle the corpus once per step
    val p = planOf("q195_state_islands")
    val dataExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning"))
      .filter(_.contains("user_id")).toSeq
    assert(dataExchanges.size == 1,
      s"expected exactly one user-keyed exchange, got ${dataExchanges.size}")
    assert(!p.contains("SortAggregate"))
  }

  test("q199: SQL-body functions inline — no udf node, table-fn WHERE pushed to scan") {
    // the scalar fn's arithmetic and the table fn's filter must dissolve
    // into the caller's plan: a black-box function boundary would cost
    // codegen AND the parquet pushdown at 100 TB
    val p = planOf("q199_sql_body_udf")
    assert(p.contains("GreaterThanOrEqual(l_quantity,30.0)"),
      "table-function WHERE must reach PushedFilters")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF"),
      "SQL-body functions must inline, not plan a udf call node")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"exactly one scan expected, got $scans")
  }

  test("join hints are honored: SHUFFLE_HASH and MERGE plan the requested joins") {
    // at 100 TB the join strategy is sometimes a human decision (stats
    // missing or wrong); the hint surface must actually reach the
    // planner — a silently-ignored hint is worse than none
    import org.apache.spark.sql.functions.col
    val li = graft.Tables.t(spark, sf, "lineitem").select(col("l_orderkey"))
    val ord = graft.Tables.t(spark, sf, "orders").select(col("o_orderkey"))
    val sh = li.hint("SHUFFLE_HASH")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
    assert(sh.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
      "SHUFFLE_HASH hint must plan a shuffled hash join")
    val mg = li.hint("MERGE")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
    assert(mg.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
      "MERGE hint must plan a sort-merge join")
  }

  test("nested-struct schema pruning reaches the parquet reader") {
    // selecting one field of a struct must read ONLY that field — at
    // 100 TB of nested telemetry, reading the whole struct for a
    // one-field projection is the columnar win thrown away
    import org.apache.spark.sql.functions.{col, struct, lit}
    val dir = java.nio.file.Files.createTempDirectory("nested_prune").toString
    import spark.implicits._
    (1L to 100L).toDF("id")
      .select(col("id"), struct(col("id").as("a"),
        (col("id") * 2).as("b"), lit("pad").as("c")).as("s"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).select(col("s.b"))
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("struct<b:bigint>") || p.contains("ReadSchema: struct<s:struct<b:bigint>>"),
      s"reader schema must prune to the single struct field; plan:\n${p.take(800)}")
    assert(!p.contains("c:string"), "unused struct fields must not be read")
  }

  test("q177: unpivot plans one Expand with map-side partial aggregation") {
    // wide→long melt must be a single scan fanned by Expand, partial
    // HashAggregate before the (3-key) exchange, and the id column the
    // aggregate never uses must be pruned from the scan
    val p = planOf("q177_unpivot_measures")
    assert(p.contains("Expand"), "unpivot must plan an Expand")
    assert(!p.contains("Union"), "melt must not scan the table per measure")
    assert(!p.contains("l_orderkey"),
      "unused id column must be pruned from the scan")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"exactly one scan expected, got $scans")
  }

  test("q206: every NOT IN plans null-aware anti; only NOT EXISTS is plain") {
    // Measured planner behavior the q206 scaladoc documents: BOTH NOT IN
    // variants carry isNullAwareAntiJoin = true (the trailing boolean in
    // BroadcastHashJoin's argString) — even the null-filtered one,
    // because the subquery rewrite emits the Or(=, IsNull(=)) condition
    // after simplification has run — while NOT EXISTS plans the ordinary
    // LeftAnti. If a Spark upgrade ever starts planning the filtered
    // NOT IN as plain anti, this pin fails and the scaladoc's rewrite
    // guidance should be re-verified, not silently kept.
    val p = planOf("q206_null_aware_anti_join")
    val anti = p.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
      .toSeq
    assert(anti.size == 3, s"three anti joins expected:\n${anti.mkString("\n")}")
    assert(anti.count(_.trim.endsWith("true")) == 2,
      s"both NOT IN variants expected null-aware:\n${anti.mkString("\n")}")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "no variant may degrade to a nested-loop anti join at this scale")
  }

  test("q211: typed section does not block pushdown or pruning") {
    // The Column filter/projection precede as[T], so the scan must keep
    // the quantity predicate in PushedFilters and a 4-field ReadSchema
    // even though an opaque typed map/Aggregator follows; the typed
    // section itself must be present (DeserializeToObject) — otherwise
    // the test isn't exercising the boundary it claims to pin.
    val p = planOf("q211_typed_dataset_pipeline")
    assert(p.contains("DeserializeToObject"),
      "typed object section expected in the plan")
    assert(p.contains("GreaterThanOrEqual(l_quantity"),
      "quantity filter must reach the parquet scan")
    assert(!p.contains("l_shipdate") && !p.contains("l_orderkey"),
      "unused columns must be pruned despite the typed section")
  }

  test("q212: six constraints cost two fact scans, not six") {
    // The fusion claim: all row-local expectations compile into ONE
    // lineitem scan (single fused aggregate), the referential check adds
    // exactly one more (the anti-join branch), plus the orders dim scan
    // — six declared constraints, three scans total. A regression to
    // scan-per-constraint would multiply 100 TB I/O by the suite size.
    val p = planOf("q212_dq_constraint_suite")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 3, s"expected <= 3 scans (2 fact + 1 dim), got $scans")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      "referential check must broadcast the order keys")
  }

  test("q234: SNM pairs via equi-join on rank blocks, never a nested loop") {
    // The neighborhood self-join must key on the rank block (an
    // equi-join after the 2x explode), and the two-phase rank must not
    // sort the corpus in one task: every window keys on the bucket
    // column except the alphabet-sized offset dictionary.
    val p = planOf("q234_sorted_neighborhood")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "rank-range pairing must stay an equi-join on the block key")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected a keyed join")
  }

  test("q204: intra-doc repetition never explodes or shuffles the n-grams") {
    // The whole score is per-row scalar array algebra; the only plan
    // nodes past the scan must be projection + the top-k heap. A
    // Generate (explode) or a non-limit Exchange would mean the n-gram
    // bag left its row — the scale property the scaladoc claims.
    val p = planOf("q204_doc_repetition")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must plan as per-partition heaps, not a global sort")
    assert(!p.contains("Generate"),
      "n-grams must stay inside their row (no explode)")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && !l.contains("Broadcast")),
      "no shuffle expected before the top-k heap")
  }

  test("q268: null-safe equality plans a HASH join, never a nested loop") {
    val p = planOf("q268_null_safe_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "EqualNullSafe is an equi-key — a nested-loop plan would be the 100 TB killer")
    assert(p.contains("HashJoin"),
      s"expected a hash join on the null-safe key in:\n$p")
  }

  test("q255: eval side broadcasts; corpus embeddings never reach an exchange") {
    val p = planOf("q255_semantic_decontamination")
    assert(p.contains("BroadcastExchange"), "eval slice must broadcast")
    // the only rows shuffled are the (cid, label, max-cos) aggregates —
    // the embedding payload must be projected away before any Exchange
    val shuffleLines = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    assert(shuffleLines.nonEmpty && !shuffleLines.exists(_.contains("embedding")),
      s"no embedding column may cross a shuffle:\n${shuffleLines.mkString("\n")}")
  }

  test("q285: eval gram set broadcasts; island windows partition by doc_id") {
    val p = planOf("q285_span_decontamination")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the contamination probe must be a broadcast left-semi join")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id")),
      s"every window must partition by doc_id (hit positions only):\n${windows.mkString("\n")}")
  }

  test("q286: PQ encode/probe broadcasts, exact arm uses native long_dot, no cartesian") {
    val p = planOf("q286_pq_adc_ann")
    assert(p.contains("long_dot"),
      "exact baseline must score through the codegen'd LongDot")
    assert(p.contains("BroadcastExchange"),
      "codebooks and the per-query LUT must broadcast")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "nothing in PQ may plan an all-pairs cartesian")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(w => w.contains("vec_id") || w.contains("qid")),
      s"argmin/top-k windows must be per-vector or per-query:\n${windows.mkString("\n")}")
  }

  test("q299: retraction probe is a broadcast left-semi on the content hash") {
    val p = planOf("q299_dedup_retraction")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the take-down batch must broadcast into a left-semi probe - " +
        "shuffling the corpus against a CDC-sized batch is the scale bug")
    assert(p.contains("md5"), "cluster identity must be the content hash")
  }

  test("q300: the composed pipeline adds no cartesian and keeps grid joins broadcast") {
    val p = planOf("q300_curation_v2")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "no stage of the composition may go all-pairs")
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 3,
      "surgery summary, marginals and stage counters must broadcast")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.forall(_.contains("doc_id")),
      s"only the surgery's per-doc island windows may appear:\n${windows.mkString("\n")}")
  }

  test("q309: KMV order statistic via partitioned window after a broadcast cutoff") {
    val p = planOf("q309_kmv_distinct")
    assert(p.contains("BroadcastHashJoin"),
      "the per-type cutoff grid must broadcast into the hash stream")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("et#")),
      s"every rank window must partition by event type (no global sort):\n${windows.mkString("\n")}")
  }

  test("q311: pair generation is panel-vs-panel, never a cartesian") {
    val p = planOf("q311_bradley_terry")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "the (user,day) self-join must stay keyed")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "the panel self-join must be a keyed hash/merge join")
  }

  test("q313: LPA rounds run on the checkpointed k-NN grid, never all-pairs") {
    val p = planOf("q313_label_propagation")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "no LPA round may go all-pairs")
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"),
      "the k-NN edge grid must be checkpointed once, not recomputed per round")
  }

  test("q320: each Weiszfeld pass joins the broadcast iterate; no cartesian") {
    val p = planOf("q320_geometric_median")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "re-centering must never go all-pairs")
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 2,
      "both iterates (64-row grids) must broadcast into the corpus passes")
  }

  test("q346: argmax is a packed-int64 hash aggregate, never SortAggregate") {
    // min_by(label, struct(−cos, label)) buffers a struct, which is not
    // hash-able — Spark falls back to SortAggregate over the corpus-scale
    // scored input (a per-task sort of N·|labels| rows). The packed-long
    // form must plan plain hash aggregation; the centroid side stays a
    // broadcast (no shuffle of the corpus by anything but vec_id).
    val p = planOf("q346_centroid_classifier")
    assert(!p.contains("SortAggregate"),
      "packed-argmin must not fall back to SortAggregate")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      "centroids must broadcast, never cartesian")
  }

  test("q303: dimension-domain cumsum is range-partitioned, never one task") {
    // The part DOMAIN grows with the corpus (~10⁹ keys at true 100 TB
    // TPC-H grain), so unlike value-grid windows its cumulative pass must
    // not plan Exchange SinglePartition over the domain. With
    // Scale.rangePrefixSum the only unpartitioned window runs on the
    // per-range-partition TOTALS (partition-count-sized, constant in the
    // data) — pin that every unpartitioned window sits above the _g_pid
    // aggregate, and that the local cumulative window partitions by the
    // range-partition id. Since r10 the ranged table is ALSO
    // localCheckpointed (ADVICE r9: both _g_pid consumers must observe
    // one physical partition assignment, not rely on ReuseExchange), so
    // the range exchange no longer appears in the final plan string —
    // the checkpoint scan that replaced it is pinned instead.
    val plan = SparkEntry.queries("q303_abc_pareto")(spark, sf)
      .queryExecution.sparkPlan
    val wins = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.nonEmpty, "expected window operators in the plan")
    val (globals, locals) = wins.partition(_.partitionSpec.isEmpty)
    assert(globals.nonEmpty && globals.forall(_.child.toString.contains("_g_pid")),
      "every unpartitioned window must consume the per-partition totals " +
        "aggregate, never the part domain itself")
    assert(locals.nonEmpty &&
      locals.forall(_.partitionSpec.mkString.contains("_g_pid")),
      "the cumulative window over the domain must partition by the " +
        "range-partition id")
    assert(plan.toString.contains("ExistingRDD") ||
      plan.toString.contains("LogicalRDD"),
      "the range-partitioned domain must be a materialized checkpoint " +
        "scan so both _g_pid consumers share one partition assignment")
  }

  test("board gate: no window/top-k order key can silently go NULL " +
      "(cross-engine NULL-ordering class)") {
    // Spark orders NULL last on DESC where DuckDB orders it first, so a
    // rank/row_number/top-k key that can actually BE null is a red row
    // waiting for the data regeneration that produces one (the q139/q218
    // class, swept board-wide per the r9 verdict). NullOrderAudit traces
    // every window/top-k sort key in every optimized plan back to its
    // defining expressions and flags genuine null introducers (guarded
    // CASE without else, null literals, lag/lead defaults, outer-join
    // sides below the operator); CASE predicates, Coalesce-repaired
    // paths, and explicit NULLS FIRST/LAST choices are not flags. The
    // whitelist records the two triaged-safe findings — any NEW flag
    // fails the build until triaged here or fixed.
    val whitelist = Map(
      // quality is NULL only for n_chars = 0 docs, which cannot be
      // component members (no shingles → no pairs): the inner join on
      // comp prunes them before the rank (comment at the query)
      "q109_dedup_keep_best" -> "guarded CASE (no else)",
      // a singular fit NULLs r for that type's ENTIRE one-row grid (both
      // engines), so the cumulative window never orders a NULL against a
      // non-NULL (comment at the query)
      "q232_conformal_interval" -> "guarded CASE (no else)")
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => n.contains("stream") || n.contains("_ml_") }
    // concurrent sweep (ParSweep): planning is per-session work; each
    // audit builds its optimized plan on its own newSession
    val bad = ParSweep.sweep(spark, qs) { (n, fn, ss) =>
      val hits = graft.tools.NullOrderAudit.audit(
        fn(ss, sf).queryExecution.optimizedPlan)
      val unexplained = whitelist.get(n) match {
        case Some(reason) => hits.filterNot(_.contains(reason))
        case None => hits
      }
      if (unexplained.nonEmpty) Some(s"$n: ${unexplained.mkString("; ")}")
      else None
    }
    assert(bad.isEmpty,
      "nullable window/top-k order keys found — exclude the NULL rows on " +
        "both sides, coalesce the key, or whitelist with a safety " +
        s"argument:\n${bad.mkString("\n")}")
  }
}
