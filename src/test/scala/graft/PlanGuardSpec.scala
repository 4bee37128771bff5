package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec

/** Plan-shape regression guards: the optimizations the engine's scale
  * story depends on must stay visible in the physical plan.
  */
class PlanGuardSpec extends SparkSuite {

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame =
    Queries.all(name)._1(spark, TestSpark.sfDir)

  test("IN-list filter is pushed to the parquet scan (q02)") {
    val p = planOf(q("q02_where_in"))
    assert(p.contains("PushedFilters: [In(l_returnflag"), p)
  }

  test("column pruning: projection-only query reads only its columns " +
      "(q01)") {
    val p = planOf(q("q01_keep_project"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_quantity"), read)
    assert(!read.contains("l_extendedprice") && !read.contains("l_shipdate"),
      s"unpruned scan: $read")
  }

  test("timestamp range filter pushed down (q14)") {
    val p = planOf(q("q14_groupby_agg"))
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("grouped aggregate does map-side partial aggregation (q14)") {
    val p = planOf(q("q14_groupby_agg"))
    assert(p.contains("partial_sum"), p)
  }

  test("dimension joins broadcast (q58 TPC-H Q3 shape)") {
    val p = planOf(q("q58_tpch_q3"))
    assert(p.contains("BroadcastHashJoin"), p)
    // the filtered customer dimension's predicate reaches its scan
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("positional subset joins its position list broadcast (q04)") {
    val p = planOf(q("q04_subset_rows"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("formula aux offsets join broadcast; data-side window is " +
      "bucket-partitioned (q65)") {
    val p = planOf(q("q65_lag_default"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("tfidf top-k pushes the rank limit below the final shuffle " +
      "(WindowGroupLimit) and broadcasts idf + N (q76)") {
    val p = planOf(q("q76_tfidf_topk"))
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ngram counts: one explode feeding one partial-aggregated " +
      "count, no window (q77)") {
    val p = planOf(q("q77_ngram_topk"))
    assert(p.contains("Generate"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
    // top-20 rides TakeOrderedAndProject, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("native cosine expression appears in the plan (no UDF wrapper)") {
    val e = QH.read(spark, TestSpark.sfDir, "embeddings")
    val df = e.select(graft.llmdata.Similarity.cosine(
      org.apache.spark.sql.functions.col("embedding"),
      org.apache.spark.sql.functions.col("embedding")).as("c"))
    val p = planOf(df)
    assert(p.contains("cosine_similarity"), p)
  }

  test("lmPerplexity: partial-aggregated counts, broadcast vocab, " +
      "no window (q86)") {
    val p = planOf(q("q86_lm_perplexity"))
    graft.Caches.release()
    // hot bigrams are aggregate/join keys, never a window funnel
    assert(!p.contains("Window"), p)
    // count aggregates combine map-side before the shuffle
    assert(p.contains("partial_count") || p.contains("partial, ["), p)
    // the 1-row vocab size arrives broadcast, not via a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("dsir scoring: the lambda table joins BROADCAST (q119/q120 " +
      "shape) — the feature stream never shuffles for the lookup") {
    import org.apache.spark.sql.functions._
    val p = planOf(q("q119_dsir_weights"))
    graft.Caches.release()
    assert(p.contains("BroadcastHashJoin"), p)
    // the per-doc score is a partial-aggregated sum, not a window
    assert(p.contains("partial_sum") || p.contains("partial, ["), p)
    assert(!p.contains("Window"), p)
  }

  test("lmPerplexity: both branches read the pinned token stream; " +
      "rows match a brute-force bigram LM") {
    import spark.implicits._
    val texts = Seq(1L -> "a b a b c", 2L -> "b c b", 3L -> "x y",
      4L -> "a c a")
    val out = graft.llmdata.TextAnalysis
      .lmPerplexity(texts.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id")
    val p = planOf(out)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    graft.Caches.release()
    // the count branch and the scoring branch both scan the cache
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p)
    // add-0.5 bigram LM over the corpus's bigram types
    val toks = texts.map { case (d, t) => d -> t.split(" ").toSeq }
    val bigrams = toks.flatMap { case (d, ts) =>
      ts.sliding(2).map(w => d -> (w(0), w(1))) }
    val bc = bigrams.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    val hc = bc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = bc.keys.flatMap { case (a, b) => Seq(a, b) }.toSet.size
    val want = toks.map { case (d, ts) =>
      val ws = ts.sliding(2).toSeq
      val nll = ws.map(w => -math.log((bc((w(0), w(1))) + 0.5) /
        (hc(w(0)) + 0.5 * v))).sum
      (d, ws.size.toLong, math.exp(nll / ws.size))
    }
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case (g, w) =>
      assert(g._2 == w._2 && math.abs(g._3 - w._3) < 1e-9, s"$g vs $w")
    }
  }

  test("AQE splits a skewed join at runtime (the planner-level skew " +
      "counterpart to the explicit saltedJoin)") {
    import spark.implicits._
    // one hot key dwarfing the rest — the classic 100 TB failure
    // shape; payloads wide enough that the hot reduce partition is
    // megabytes, far past the lowered skew threshold
    // unique-per-row payloads: skew detection reads COMPRESSED map
    // sizes, and a constant pad compresses to nothing
    def payload(i: Int): String =
      (1 to 8).map(j => ((i.toLong * 2654435761L + j * 40503L)
        & 0xffffffffL).toHexString).mkString("-")
    val left = ((1 to 60000).map(i => (1, payload(i))) ++
        (2 to 300).map(k => (k, payload(k))))
      .toDF("k", "lv")
      .repartition(4)
    val right = (1 to 300).flatMap(k => Seq.fill(50)((k, k * 1.5)))
      .toDF("k", "rv").repartition(4)
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val j = left.join(right, "k")
      j.queryExecution.toRdd.count() // finalize the adaptive plan
      val finalPlan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$finalPlan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("q110 exact-substring spans: window census partial-aggregates, " +
      "the only Window node is per-document (no corpus-wide funnel)") {
    val p = planOf(q("q110_repeated_substrings"))
    // the duplicated-window census combines map-side
    assert(p.contains("partial_") , p)
    // every window partitions by doc_id — bounded by document length
    val specs = "windowspecdefinition\\(([^,)]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("doc_id")),
      s"non-doc-partitioned window in:\n$p")
  }

  test("q72 single-scan prefix sums: the EXECUTED adaptive plan reads " +
      "parquet once and the totals branch is a ReusedExchange") {
    // the static plan shows two scans (AQE stage reuse happens at
    // runtime) — the claim must be pinned on the FINAL plan of the
    // executed QueryExecution, per the r4 review
    val df = q("q72_seq_packing")
    df.queryExecution.toRdd.count() // executes THIS QueryExecution
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
    assert(finalPlan.contains("ReusedExchange"), finalPlan)
    val scans = finalPlan.split("FileScan parquet").length - 1
    assert(scans == 1,
      s"expected exactly one parquet scan in the final plan, got $scans:" +
        s"\n$finalPlan")
  }

  test("q121 domain cap: rank limit pushed below the shuffle as a " +
      "partial WindowGroupLimit; scan pruned to id+source") {
    val p = planOf(q("q121_domain_cap"))
    // Partial limit BEFORE the exchange: each map task forwards at
    // most cap rows per domain, so the shuffle carries <= cap x
    // partitions rows per domain, not the domain's documents
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial") && p.contains("Final"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("text"), s"unpruned scan: $read")
    graft.Caches.release()
  }

  test("q124 bloom dedup: definitely-novel branch joins nothing; " +
      "the anti-join sits only on the maybe branch with the seen " +
      "side broadcast") {
    val p = planOf(q("q124_bloom_dedup"))
    // one join operator total (the maybe branch's LeftAnti),
    // broadcast-built — the formatted plan numbers each operator
    // once, so count the numbered detail entries
    val joins = "\\(\\d+\\) \\w*Join".r.findAllIn(p).toSeq
    assert(joins.length == 1 && p.contains("LeftAnti"),
      s"joins=$joins in:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // the Bloom membership UDF is a scan-level data filter on BOTH
    // branches (pushed into the FileScan's DataFilters, so novel
    // rows never reach a join operator)
    assert(p.contains("UDF"), p)
    assert(p.contains("GreaterThanOrEqual(doc_id,300)"), p)
    graft.Caches.release()
  }

  test("q122 heavy hitters: exact pass counts ONLY broadcast-joined " +
      "candidates with partial aggregation; the pinned unit stream " +
      "is read from cache") {
    val df = q("q122_heavy_hitters")
    df.queryExecution.toRdd.count()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(finalPlan.contains("InMemoryTableScan"),
      s"unit stream not cached:\n$finalPlan")
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(finalPlan.contains("partial_count"), finalPlan)
    graft.Caches.release()
  }

  test("q115/q113: the portable hash is the NATIVE expression inline " +
      "in the plan — no ScalaUDF wrapper in the scoring projection") {
    for (name <- Seq("q115_feature_hash", "q113_group_split")) {
      val p = planOf(q(name))
      assert(p.contains("portable_token_hash"),
        s"$name lost the native hash:\n$p")
      assert(!p.toLowerCase.contains("scalaudf"),
        s"$name routes the hash through a UDF wrapper:\n$p")
    }
  }

  test("q139 drift monitor: the cumulative-prior window partitions " +
      "by source (never corpus-wide), and the grouped fold " +
      "partial-aggregates before its exchange") {
    val p = planOf(q("q139_drift_monitor"))
    val winLine = p.linesIterator
      .find(l => l.contains("windowspecdefinition")).getOrElse("")
    assert(winLine.contains("source"),
      s"drift window not partitioned by source: $winLine\n$p")
    assert(p.contains("partial_sum"), p)
  }

  test("q271 zipf: every theilSen window keeps an explicit series " +
      "partition — a foldable constant label would empty the spec " +
      "and trigger the WindowExec 'No Partition Defined' warning") {
    val p = planOf(q("q271_zipf"))
    val specs = "windowspecdefinition\\(([^,)]*)[,)]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, p)
    specs.foreach { first =>
      // a folded-empty partition spec starts with an ORDER column
      // ("x ASC/DESC NULLS ..."); a kept partition starts with a
      // bare attribute
      assert(!first.contains(" ASC") && !first.contains(" DESC"),
        s"window spec lost its partition (constant-folded?): " +
          s"first arg '$first'\n$p")
    }
  }

  test("q147 corpus pipeline: eval-window decontamination joins " +
      "BROADCAST, and every downstream stage reads the pinned scans " +
      "(no repeated parquet passes in the executed plan)") {
    val df = q("q147_corpus_pipeline")
    df.queryExecution.toRdd.count()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(finalPlan.contains("InMemoryTableScan"),
      s"pinned source not read from cache:\n$finalPlan")
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    graft.Caches.release()
  }

  test("q152 marginal effects: the prediction grid joins by BROADCAST " +
      "(never a CartesianProduct over data)") {
    // (no ReadSchema assertion: the exact-ntile rank bridge rebases
    // the lineage on an RDD, so the parquet scan lives in an earlier
    // QueryExecution — grid shape is what this plan can evidence)
    val p = planOf(q("q152_marginal_effects"))
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q153 per-cell cap: the rank limit pushes MAP-SIDE " +
      "(WindowGroupLimit before the cell exchange) and the scan reads " +
      "only the id column") {
    val p = planOf(q("q153_cluster_sample_exact"))
    assert(p.contains("WindowGroupLimit"), p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("vec_id") && !read.contains("embedding"),
      s"unpruned scan: $read")
  }

  test("q154 doremi apply: the serving plan is one filtered pass — " +
      "no join, no hash exchange, no window (learning ran driver-side)") {
    val df = q("q154_doremi_apply")
    df.queryExecution.toRdd.count()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Join"), finalPlan)
    assert(!finalPlan.contains("hashpartitioning"), finalPlan)
    assert(!finalPlan.contains("windowspecdefinition"), finalPlan)
    graft.Caches.release()
  }

  test("q156 wordpiece scores: the symbol table is pinned (one corpus " +
      "tokenize for three aggregates) and both unit-count sides join " +
      "BROADCAST — no cartesian anywhere") {
    val df = q("q156_wordpiece_scores")
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("InMemoryTableScan"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      s"alphabet-sized unit tables must broadcast:\n$p")
    graft.Caches.release()
  }

  test("q160 token-id emission: the distinct-token dictionary joins " +
      "BROADCAST — the occurrence stream never shuffles for the join") {
    val p = planOf(q("q160_wordpiece_ids"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q161 char entropy: map-side partial count before the " +
      "(id, char) exchange; the per-doc window reuses the doc_id " +
      "partitioning (no third data exchange)") {
    val p = planOf(q("q161_char_entropy"))
    assert(p.contains("partial_count"), p)
    // exchanges: spread's round-robin, (doc_id,__ch), doc_id window,
    // and the output range sort — nothing else
    val n = p.linesIterator.count(l =>
      l.trim.startsWith("(") && l.contains("Exchange"))
    assert(n <= 4, s"unexpected exchange count $n:\n$p")
  }

  test("q164 funnel: ONE data shuffle — the per-user fold replaces " +
      "the k-round chained groupBy+join form") {
    val p = planOf(q("q164_funnel"))
    val hash = p.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(hash == 1, s"expected exactly 1 hash exchange, got $hash:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q167 bm25: the per-doc aggregate shuffles ONCE at runtime " +
      "(stats branch rides a ReusedExchange), corpus stats broadcast, " +
      "no sort-merge join, rank limit as TakeOrdered") {
    val df = q("q167_bm25")
    // static plan: both hash exchanges are the SAME groupBy(doc_id)
    // subtree (main side + stats branch) — the reuse is an AQE
    // runtime decision, so assert it on the EXECUTED plan
    val p = planOf(df)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    df.queryExecution.toRdd.count()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("ReusedExchange") ||
      fin.contains("ReusedQueryStage"),
      s"stats branch should reuse the per-doc exchange:\n$fin")
  }

  test("q166 fuzzy match: value census partial-aggregates map-side; " +
      "the candidate join is keyed on the block (no cartesian)") {
    val p = planOf(q("q166_fuzzy_match"))
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q189 TPC-H Q6: every predicate pushed to the scan, zero " +
      "hash exchanges — a map-side partial agg and a 1-row final") {
    val p = planOf(q("q189_tpch_q6"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_quantity,24"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05"), p)
    assert(!p.contains("Arguments: hashpartitioning"), p)
    assert(p.contains("partial_"), p)
  }

  test("q190 TPC-H Q17: the filtered part dimension broadcasts — " +
      "the fact side never shuffles for that join") {
    val p = planOf(q("q190_tpch_q17"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(p_type,SMALL)"), p)
  }

  test("q174 curriculum: no Window operator anywhere — the phase " +
      "rank comes from the range-partitioned zip, not a " +
      "single-partition ntile window") {
    val p = planOf(q("q174_curriculum"))
    assert(!p.contains("Window"), p)
  }

  test("q207 CDC apply: the latest-change rank-1 filter pushes " +
      "MAP-SIDE (WindowGroupLimit before the key exchange)") {
    val p = planOf(q("q207_cdc_apply"))
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q213 attribution: the as-of fold is ONE bare-user_id hash " +
      "exchange (the dedup's (user_id, ts) exchange aside) — no " +
      "conversions x touches join") {
    val p = planOf(q("q213_attribution"))
    // the fold partitions on user_id ALONE; the touch dedup's
    // (user_id, ts) window is the only other user-keyed exchange
    val bare = p.linesIterator.count(l =>
      l.matches(".*hashpartitioning\\(user_id#\\d+L, \\d+\\).*"))
    assert(bare == 1, s"$bare bare user_id exchanges:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q215 inverted index: df comes from a window over the " +
      "postings — TWO hash exchanges, no self-join (ordering/spread " +
      "exchanges aside)") {
    val p = planOf(q("q215_inverted_index"))
    assert(!p.contains("Join"), p)
    val n = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(n == 2, s"$n hash exchanges:\n$p")
  }

  test("q217 int8 quantization: the dim-stats table joins BROADCAST " +
      "back onto the exploded stream") {
    val p = planOf(q("q217_int8_quant"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pair census: under AQE the pair count's exchange keeps every " +
      "shuffle partition — no coalescing read (commonNeighbors)") {
    import spark.implicits._
    // every node of a ring of 60 links to its 3 successors: a few KB
    // of wedges, which AQE would coalesce into one partition by bytes
    val adj = (for { v <- 0L until 60L; d <- 1L to 3L }
      yield (v, (v + d) % 60L)).toDF("node", "nbr")
    val conf = spark.conf
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      keys.foreach(conf.set(_, "true"))
      val df = graft.ops.Graph.commonNeighbors(adj, minCommon = 1L)
      df.queryExecution.toRdd.count() // finalize the adaptive plan
      def feed(p: SparkPlan): SparkPlan = p match {
        case _: ShuffleQueryStageExec | _: AQEShuffleReadExec => p
        case _ => feed(p.children.head)
      }
      val root = df.queryExecution.executedPlan
      val counts = planNodes(root).collect {
        case a: BaseAggregateExec
            if a.groupingExpressions.map(_.name) == Seq("a", "b") => a
      }
      assert(counts.nonEmpty, s"no (a, b) pair count in:\n$root")
      val width = conf.get("spark.sql.shuffle.partitions").toInt
      assert(width > 1)
      counts.map(feed).foreach {
        case s: ShuffleQueryStageExec =>
          assert(s.shuffle.numPartitions == width, s"$s")
        case r => fail(s"the pair count reads through $r:\n$root")
      }
    } finally {
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
      graft.Caches.release()
    }
  }
}
