package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions over real testdata — the scale
  * properties the DataFrame code is designed for (filters reach the
  * parquet scan, projections prune the read schema, small sides
  * broadcast, hot paths stay inside whole-stage codegen). Guards
  * against silent plan regressions the value-level tests can't see. */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Build + render the physical plan with AQE off: the adaptive
    * wrapper hides scan/codegen nodes until execution, and the static
    * plan is what these shape assertions are about (production keeps
    * AQE on). */
  private def withStaticPlan[T](f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, prev)
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: shipdate filter pushes into the parquet scan") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q1_lineitem_agg")(spark, dir))
      assert(plan.contains(
        "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
        s"no pushed filter in:\n$plan")
    }
  }

  test("q1: read schema is pruned to the referenced columns") {
    withStaticPlan {
      val df = SparkEntry.queries("q1_lineitem_agg")(spark, dir)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty)
      val readCols = scans.head.requiredSchema.fieldNames.toSet
      assert(readCols == Set("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_shipdate"),
        s"scan reads $readCols")
    }
  }

  test("q1: aggregation runs inside whole-stage codegen") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q1_lineitem_agg")(spark, dir))
      // "*(n)" prefixes mark whole-stage-codegen'd spans
      assert(plan.contains("*(1)") && plan.contains("*(2)"),
        s"no codegen stars in:\n$plan")
      assert(plan.contains("HashAggregate"))
      assert(plan.contains("partial_"), "no map-side partial aggregate")
    }
  }

  test("cell-means grid join broadcasts the tiny (g,t) grid") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_cell_means_2x2")(spark, dir))
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"no broadcast in:\n$plan")
    }
  }

  test("panel view aggregates with a partial (map-side) aggregate") {
    withStaticPlan {
      val plan = planOf(PanelView.of(spark, dir))
      assert(plan.contains("partial_"), s"no partial agg in:\n$plan")
    }
  }

  test("sessionization has no global sort") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_sessionize")(spark, dir))
      // window sorts are within user_id partitions; a global Sort
      // (global=true) would be a scale bug
      assert(!plan.contains("Sort ["  + "] true") &&
        !plan.matches("(?s).*Sort \\[[^\\]]+\\], true,.*"),
        s"global sort found in:\n$plan")
    }
  }

  test("jaccard prefix self-join is an equi-join on the shingle hash") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_ngram_jaccard")(spark, dir))
      // candidate generation must hash-join on h, never nested-loop the
      // full corpus against itself
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
        plan.contains("BroadcastHashJoin"), s"no hash join in:\n$plan")
      assert(!plan.contains("CartesianProduct"), "cartesian product!")
    }
  }

  test("minhash near-dup tokenizes the corpus once (cached shingles)") {
    withStaticPlan {
      val df = SparkEntry.queries("q_minhash_neardup")(spark, dir)
      val plan = planOf(df)
      // the persisted shingle frame feeds the signature pass AND both
      // verification joins
      val cacheScans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(cacheScans.length >= 3, s"expected >=3 shingle-cache scans:\n$plan")
      // filter pushdown must NOT substitute the tokenizer into the
      // parquet scan (it would run single-core on the one input split)
      val fileScans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      fileScans.foreach { s =>
        assert(!s.dataFilters.mkString.contains("split("),
          s"tokenizer pushed into the parquet scan:\n$plan")
      }
      assert(!plan.contains("CartesianProduct"), "cartesian product!")
    }
  }

  test("gopher signals: no window, no cartesian, partial aggregation") {
    withStaticPlan {
      val plan = planOf(
        SparkEntry.queries("q_gopher_quality")(spark, dir))
      assert(!plan.contains("Window"), s"window op in:\n$plan")
      assert(!plan.contains("CartesianProduct"), "cartesian product!")
      // top-token dominance: two-level hash agg with map-side partials
      assert(plan.contains("partial_"), "no map-side partial aggregate")
    }
  }

  test("token dedup is map-only: no exchange, no window") {
    withStaticPlan {
      val df = SparkEntry.queries("q_token_dedup")(spark, dir)
      val plan = planOf(df)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, s"shuffle in a map-only op:\n$plan")
      assert(!plan.contains("Window"), s"window op in:\n$plan")
    }
  }

  test("tfidf: hash aggs with partials, one per-doc window, no global sort") {
    withStaticPlan {
      val df = SparkEntry.queries("q_tfidf_top")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("partial_"), "no map-side partial aggregate")
      // the single-row ndocs side rides in as a broadcast, never a
      // shuffled cartesian against the corpus
      assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
      val globalSorts = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }
      assert(globalSorts.isEmpty, "global sort leaked into the plan")
    }
  }

  test("hash sampling is map-only: the filter reaches the scan stage") {
    withStaticPlan {
      val df = SparkEntry.queries("q_sample_hash")(spark, dir)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, s"shuffle in a map-only op:\n${planOf(df)}")
      assert(planOf(df).contains("md5"), "hash filter missing")
    }
  }

  test("chunking has no shuffle besides the pinned repartition") {
    withStaticPlan {
      val df = SparkEntry.queries("q_chunk_tokens")(spark, dir)
      val plan = planOf(df)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // exactly the tokenize-spreading repartition below the cache; the
      // explode itself adds nothing
      assert(exchanges.length <= 1, s"extra shuffles:\n$plan")
      assert(!plan.contains("Window"), s"window op in:\n$plan")
      assert(plan.contains("Generate"), "no explode in the chunk fan-out")
    }
  }

  test("sequence packing: one bucket exchange + one window, no sort " +
      "beyond the bucket, no join") {
    withStaticPlan {
      val df = SparkEntry.queries("q_pack_sequences")(spark, dir)
      val plan = planOf(df)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      // the chunker's pinned repartition + the bucket exchange for the
      // per-bucket window — a GLOBAL concat-and-cut would instead show
      // a single-partition exchange here
      assert(exchanges.length <= 2, s"extra shuffles:\n$plan")
      assert(plan.contains("Window"), "per-bucket window cumsum missing")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("SortMergeJoin"), s"join in a relabeling op:\n$plan")
      assert(!exchanges.exists(_.outputPartitioning.numPartitions == 1),
        s"global single-partition exchange (serialized packing):\n$plan")
    }
  }

  test("token mix: the kept-set filter is map-only over the scan") {
    withStaticPlan {
      val df = SparkEntry.queries("q_token_mix")(spark, dir)
      val plan = planOf(df)
      // the totals pass already ran (driver-side rates); the RETURNED
      // frame must be a pure md5-threshold filter — no exchange, no join
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, s"shuffle in the map-only filter:\n$plan")
      assert(plan.contains("md5"), "hash-threshold filter missing")
    }
  }

  test("cross near-dedup: equi-joins only, no cartesian product") {
    withStaticPlan {
      val df = SparkEntry.queries("q_cross_neardup")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"non-equi join in the cross candidate generation:\n$plan")
    }
  }

  test("decontamination broadcasts the benchmark shingles, no cartesian") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_decontaminate")(spark, dir))
      assert(plan.contains("BroadcastHashJoin"),
        s"benchmark join not broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), "cartesian product!")
    }
  }

  test("bm25: query-sized sides broadcast, partial aggs, no global sort " +
      "before top-k") {
    withStaticPlan {
      val df = SparkEntry.queries("q_bm25")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"stats/df sides not broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), "cartesian product!")
      assert(plan.contains("partial_"), "no map-side partial aggregate")
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-k did not fuse into TakeOrdered:\n$plan")
    }
  }

  test("pipeline composition: no cartesian, chunk fan-out present, " +
      "anti-joins stay hash/broadcast") {
    withStaticPlan {
      val df = SparkEntry.queries("q_pipeline")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
      assert(plan.contains("Generate"), "no chunk explode in the tail")
      // dedup/sample anti-join sides resolve to broadcast or hash joins
      assert(plan.contains("Join LeftAnti") ||
        plan.contains("BroadcastHashJoin") ||
        plan.contains("SortMergeJoin"),
        s"missing join machinery:\n$plan")
    }
  }

  test("stateful sessionizer shuffles once by user, no global sort") {
    withStaticPlan {
      val df = SparkEntry.queries("q_stream_sessionize_state")(spark, dir)
      val plan = planOf(df)
      // batch mode lowers flatMapGroupsWithState to MapGroups
      assert(plan.contains("MapGroups"), s"no group-state operator in:\n$plan")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1, s"expected one shuffle:\n$plan")
      val globalSorts = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }
      assert(globalSorts.isEmpty, "global sort leaked into the plan")
    }
  }

  test("bpe count is map-only: no exchange, expression at the scan stage") {
    withStaticPlan {
      val df = SparkEntry.queries("q_bpe_count")(spark, dir)
      val plan = planOf(df)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty, s"bpe count should not shuffle:\n$plan")
      assert(plan.contains("bpecountexpr"), s"expression missing:\n$plan")
      // the null-text guard reaches the parquet scan
      assert(plan.contains("PushedFilters: [IsNotNull(text)]"),
        s"null filter not pushed:\n$plan")
    }
  }

  test("simhash md5 near-dup: banded equi-join, no cartesian") {
    withStaticPlan {
      val plan = planOf(
        SparkEntry.queries("q_simhash_neardup_md5")(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join in:\n$plan")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin") ||
        plan.contains("BroadcastHashJoin"), s"no equi-join in:\n$plan")
    }
  }

  test("lsh buckets are computed map-only at the scan") {
    withStaticPlan {
      val df = SparkEntry.queries("q_ann_lsh_buckets")(spark, dir)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucket projection should not shuffle:\n${planOf(df)}")
    }
  }

  test("rollup report: grouping sets expand map-side, ONE shuffle") {
    withStaticPlan {
      val df = SparkEntry.queries("q_corpus_rollup")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("Expand"), s"no grouping-set expand in:\n$plan")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1,
        s"rollup should shuffle exactly once:\n$plan")
    }
  }

  test("rolling window: ONE shuffle on the key, RANGE frame in plan") {
    withStaticPlan {
      val df = SparkEntry.queries("q_rolling_window")(spark, dir)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1,
        s"rolling window should shuffle once:\n${planOf(df)}")
      assert(planOf(df).contains("RangeFrame"),
        s"expected a RANGE frame:\n${planOf(df)}")
    }
  }

  test("dsir: bucket model broadcasts to the token stream, no " +
      "corpus-sized join build") {
    withStaticPlan {
      val df = SparkEntry.queries("q_dsir_weights")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"model join should broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    }
  }

  test("stream join (batch path): equi-join on (key, bucket), no " +
      "nested loop") {
    withStaticPlan {
      val df = SparkEntry.queries("q_stream_join")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("BroadcastNestedLoop") &&
        !plan.contains("Cartesian"),
        s"batch attribution must stay an equi-join:\n$plan")
    }
  }

  test("temporal joins: asof has no join operator, range join no " +
      "nested loop") {
    withStaticPlan {
      val asof = planOf(SparkEntry.queries("q_asof_join")(spark, dir))
      assert(!asof.contains("Join"), s"asof should window, not join:\n$asof")
      val range = planOf(SparkEntry.queries("q_range_join")(spark, dir))
      assert(!range.contains("BroadcastNestedLoop") &&
        !range.contains("Cartesian"),
        s"range join must stay an equi-join:\n$range")
    }
  }

  test("ship priority (Q3 shape): fact never shuffles for a join — " +
      "dims broadcast, one agg exchange, TakeOrdered not global sort") {
    withStaticPlan {
      val df = SparkEntry.queries("q_ship_priority")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"fact-side shuffle join leaked in:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"no broadcast:\n$plan")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1, s"only the agg should shuffle:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-k should be TakeOrdered, not sort+limit:\n$plan")
    }
  }

  test("region revenue (Q5 shape): every dim broadcasts; at most the " +
      "fact-fact join shuffles") {
    withStaticPlan {
      val df = SparkEntry.queries("q_region_revenue")(spark, dir)
      val plan = planOf(df)
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
      assert(bhj >= 3, s"expected >=3 broadcast joins, got $bhj:\n$plan")
      val smj = "SortMergeJoin".r.findAllIn(plan).length +
        "ShuffledHashJoin".r.findAllIn(plan).length
      assert(smj <= 1, s"more than the lineitem-orders shuffle join:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"),
        s"nation-equality residual must ride the equi-join:\n$plan")
    }
  }

  test("global order: sharded window — no single-partition exchange, " +
      "no global sort, offsets ride a broadcast") {
    withStaticPlan {
      val df = SparkEntry.queries("q_global_order")(spark, dir)
      val plan = planOf(df)
      val globalSorts = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }
      assert(globalSorts.isEmpty, s"global sort leaked in:\n$plan")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(!exchanges.exists(_.outputPartitioning.numPartitions == 1),
        s"single-reducer exchange (serialized ordering):\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"offset join should broadcast:\n$plan")
    }
  }

  test("contamination fraction: benchmark probes as a broadcast left " +
      "join, corpus never shuffles for it") {
    withStaticPlan {
      val df = SparkEntry.queries("q_contam_frac")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"bench probe should broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"corpus-side shuffle join:\n$plan")
    }
  }

  test("shard assign: sharded prefix sum — no single-partition " +
      "exchange, no global sort") {
    withStaticPlan {
      val df = SparkEntry.queries("q_shard_assign")(spark, dir)
      val plan = planOf(df)
      val globalSorts = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }
      assert(globalSorts.isEmpty, s"global sort leaked in:\n$plan")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(!exchanges.exists(_.outputPartitioning.numPartitions == 1),
        s"single-reducer exchange (serialized cumsum):\n$plan")
    }
  }

  test("per-domain cap: rank filter compiles to WindowGroupLimit " +
      "(map-side pre-trim before the one shuffle)") {
    withStaticPlan {
      val df = SparkEntry.queries("q_source_cap")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("WindowGroupLimit"),
        s"rank pushdown missing — hot domains would ship whole:\n$plan")
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1, s"cap should shuffle once:\n$plan")
    }
  }

  test("zscore: K-row stats broadcast back, corpus never shuffle-joins") {
    withStaticPlan {
      val df = SparkEntry.queries("q_source_zscore")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"stats join should broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"corpus-side shuffle join:\n$plan")
    }
  }

  test("profiler: two passes — thin moments agg + distinct-only " +
      "Expand, never the moments riding multiplied rows") {
    withStaticPlan {
      val df = SparkEntry.queries("q_profile_lineitem")(spark, dir)
      val plan = planOf(df)
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.length == 2,
        s"profile must be moments pass + distinct pass:\n$plan")
      assert(plan.contains("Expand"),
        "exact multi-column distinct should plan an Expand")
      // the Expand subtree must NOT evaluate moment aggregates (that
      // mix measured 14x slower at sf0.1): no sum/min/max below Expand
      val expand = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.ExpandExec => e
      }
      assert(expand.nonEmpty)
      assert(!expand.head.toString.contains("sum("),
        s"moment aggs leaked under the Expand:\n$plan")
      assert(plan.contains("partial_"), "no map-side partial aggregate")
    }
  }

  test("bloom prune: probe filters the fact scan BEFORE a broadcast " +
      "confirm semi-join") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_bloom_prune")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("bloommightcontainexpr"),
        s"bloom probe missing from the plan:\n$plan")
      assert(plan.contains("BroadcastHashJoin") &&
        plan.contains("LeftSemi"),
        s"confirm should be a broadcast left-semi at this scale:\n$plan")
      // the probe must sit below the join: prune first, confirm after
      val probeIdx = plan.indexOf("bloommightcontainexpr")
      val joinIdx = plan.indexOf("BroadcastHashJoin")
      assert(joinIdx < probeIdx, // toString prints parents first
        s"bloom probe is not upstream of the confirm join:\n$plan")
    }
  }

  test("dup passage: hash exchanges only — no cartesian, no " +
      "single-partition funnel, window keyed by the 8-byte hash") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_dup_passage")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("Cartesian"), s"cartesian leaked:\n$plan")
      assert(!plan.contains("SinglePartition"),
        s"single-partition funnel:\n$plan")
      assert(plan.contains("Window"), s"cross-doc count lost:\n$plan")
      assert(plan.contains("partial_count") || plan.contains("partial_"),
        s"per-doc window counts must map-side combine:\n$plan")
      graft.operators.Dedup.releaseCaches()
    }
  }

  test("winsorize: bounds broadcast back; corpus never shuffle-joins") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_winsorize")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"quantile bounds should broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"corpus must not shuffle for the clamp:\n$plan")
    }
  }

  test("att vcov: one fold of the unit store, labels broadcast, no " +
      "shuffle, no cartesian") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_att_gt_vcov")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("Cartesian"), s"cartesian leaked:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"cell labels / diagonal should broadcast:\n$plan")
      // the covariance was folded from the unit rows before planning:
      // the plan reads K^2 driver-built rows, never influence rows
      assert(!plan.contains("Exchange hashpartitioning") &&
        !plan.contains("ShuffleExchange") && !plan.contains("Scan ExistingRDD"),
        s"influence rows reached the plan:\n$plan")
      assert(plan.contains("LocalTableScan"),
        s"the covariance should be a driver-built table:\n$plan")
      graft.operators.TrackedCaches.releaseAll()
    }
  }

  test("dedup passages: hash exchanges only, no cartesian, RANGE " +
      "coverage window in-plan") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_dedup_passages")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("Cartesian"), s"cartesian leaked:\n$plan")
      assert(!plan.contains("BroadcastNestedLoop"),
        s"nested loop leaked:\n$plan")
      assert(plan.contains("specifiedwindowframe(RangeFrame"),
        s"coverage must be a RANGE frame:\n$plan")
      graft.operators.TrackedCaches.releaseAll()
    }
  }

  test("temperature mix is a map-only threshold filter at the scan") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_temperature_mix")(spark, dir)
      val plan = planOf(df)
      // after the one driver-side totals pass, the kept set must come
      // from a filter over the scan — no join, no shuffle
      assert(!plan.contains("Join"), s"join leaked:\n$plan")
      assert(!plan.contains("Exchange"), s"shuffle leaked:\n$plan")
      assert(plan.contains("Filter"), s"no filter in:\n$plan")
    }
  }

  test("interval join: equi-join on (key, bucket), no nested loop") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_interval_join")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("BroadcastNestedLoop") &&
        !plan.contains("Cartesian"),
        s"interval join fell back to a nested loop:\n$plan")
    }
  }

  test("unicode norm + html strip are map-only (no exchange, no join)") {
    withStaticPlan {
      for (q <- Seq("q_unicode_norm", "q_html_strip")) {
        val plan = planOf(SparkEntry.queries(q)(spark, dir))
        assert(!plan.contains("Exchange"), s"$q shuffled:\n$plan")
        assert(!plan.contains("Join"), s"$q joined:\n$plan")
      }
    }
  }

  test("corr matrix: one single-row aggregate, no join, partial aggs") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_corr_matrix")(spark, dir))
      assert(!plan.contains("Join"), s"join leaked:\n$plan")
      assert(plan.contains("partial_"), "no map-side partial aggregate")
      // exactly one shuffle: the 1-row partial->final exchange
      assert("Exchange".r.findAllIn(plan).size <= 2,
        s"too many shuffles:\n$plan")
    }
  }

  test("embed gram: row-local pair generation — generators, no join") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_embed_gram")(spark, dir))
      assert(!plan.contains("Join"), s"self-join leaked:\n$plan")
      assert(plan.contains("Generate"), s"no explode in:\n$plan")
      assert(plan.contains("partial_"), "no map-side partial aggregate")
    }
  }

  test("embed rp: map-only projection (no exchange, no join)") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_embed_rp")(spark, dir))
      assert(!plan.contains("Exchange"), s"shuffle leaked:\n$plan")
      assert(!plan.contains("Join"), s"join leaked:\n$plan")
    }
  }

  test("lexical pairs: equi-joins only — no cartesian, no nested loop " +
    "on corpus-sized inputs") {
    withStaticPlan {
      val df = SparkEntry.queries("q_lexical_pairs")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
      // the K=1 stats frame rides in as a broadcast nested loop by
      // design; corpus-sized joins must all be hash/sort equi-joins
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), s"no equi-join in:\n$plan")
      graft.operators.TrackedCaches.releaseAll()
    }
  }

  test("js divergence: corpus scans once; pair alignment joins are " +
    "vocab-sized equi-joins, no cartesian") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_js_divergence")(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    }
  }

  test("ppl buckets: tercile thresholds broadcast back, no cartesian") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_ppl_buckets")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("Cartesian") ||
        // the one-row vocab count rides in as a broadcast nested loop —
        // that cross join is intentional (ngramLogProb); thresholds must
        // still broadcast-hash on lang
        plan.contains("BroadcastNestedLoopJoin"),
        s"unexpected cartesian:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"per-lang thresholds should broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"scored table must not shuffle for the bucket CASE:\n$plan")
      graft.operators.TrackedCaches.releaseAll()
    }
  }

  test("funnel: ONE exchange on the user key feeds windows AND the agg") {
    withStaticPlan {
      val plan = planOf(graft.SparkEntry.queries("q_funnel")(spark, dir))
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).length
      assert(exchanges == 1,
        s"expected exactly 1 hash exchange, got $exchanges:\n$plan")
      assert(!plan.contains("Exchange rangepartitioning"),
        s"global sort leaked into the funnel:\n$plan")
    }
  }

  test("retention + transition matrix: no global range sort") {
    withStaticPlan {
      for (q <- Seq("q_retention", "q_transition_matrix")) {
        val plan = planOf(graft.SparkEntry.queries(q)(spark, dir))
        assert(!plan.contains("Exchange rangepartitioning"),
          s"$q has a global sort:\n$plan")
        assert(!plan.contains("Cartesian") &&
          !plan.contains("BroadcastNestedLoop"),
          s"$q has a non-equi join:\n$plan")
      }
    }
  }

  test("fuzzy pairs: levenshtein guard rule rewrote the join filter") {
    withStaticPlan {
      val plan = planOf(graft.SparkEntry.queries("q_fuzzy_pairs")(spark, dir))
      assert(plan.contains("levenshtein"), s"no levenshtein in:\n$plan")
      // banded DP form: threshold literal inside the call
      assert(plan.contains("Some(2)"),
        s"thresholded levenshtein missing (guard rule inactive?):\n$plan")
      assert(!plan.contains("Cartesian") &&
        !plan.contains("BroadcastNestedLoop"),
        s"blocking equi-join degraded:\n$plan")
    }
  }

  test("dp counts: K-row agg then map-only noise (no second corpus pass)") {
    withStaticPlan {
      val plan = planOf(graft.SparkEntry.queries("q_dp_counts")(spark, dir))
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"noise projection added a shuffle:\n$plan")
      assert(!plan.contains("Join"), s"join leaked:\n$plan")
    }
  }

  test("quantile norm: hash exchanges and equi-joins only, offsets broadcast") {
    withStaticPlan {
      val plan = planOf(
        graft.SparkEntry.queries("q_quantile_norm")(spark, dir))
      assert(!plan.contains("Exchange rangepartitioning"),
        s"single-reducer sort leaked into the global rank:\n$plan")
      assert(!plan.contains("Cartesian") &&
        !plan.contains("BroadcastNestedLoop"),
        s"non-equi join:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"shard offsets are not broadcast:\n$plan")
    }
  }

  test("weighted median: ONE exchange on the group key, RANGE cumulative frame") {
    withStaticPlan {
      val df = SparkEntry.queries("q_weighted_median")(spark, dir)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.length == 1,
        s"weighted median should shuffle once:\n${planOf(df)}")
      assert(planOf(df).contains("RangeFrame"),
        s"tie-safe cumulative weight needs a RANGE frame:\n${planOf(df)}")
    }
  }

  test("cusum: stats broadcast back; ordered windows share the group exchange") {
    withStaticPlan {
      val df = SparkEntry.queries("q_cusum_volume")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"mean/sd should broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
      assert(!plan.contains("Exchange rangepartitioning"),
        s"global sort leaked:\n$plan")
    }
  }

  test("nearest-event join: hash equi-join on (key, bucket), no nested loop") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_nearest_event")(spark, dir))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoop"),
        s"nearest join degraded:\n$plan")
    }
  }

  test("rfm: ONE corpus aggregate (cached metric frame), thresholds broadcast") {
    withStaticPlan {
      val df = SparkEntry.queries("q_rfm_segments")(spark, dir)
      val plan = planOf(df)
      // the persisted user-metric frame feeds three tercile aggregates
      // + the binning join — all downstream reads hit the cache
      assert(plan.contains("InMemoryTableScan"),
        s"metric frame not cached (corpus re-aggregated 4x):\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"threshold joins must broadcast, not shuffle the users:\n$plan")
      graft.operators.TrackedCaches.releaseAll()
    }
  }

  test("kneser-ney: cached bigram counts feed all four stat frames") {
    withStaticPlan {
      val plan = planOf(SparkEntry.queries("q_kneser_ney")(spark, dir))
      assert(plan.contains("InMemoryTableScan"),
        s"pair-count frame not cached:\n$plan")
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-k should be TakeOrdered, not sort+limit:\n$plan")
      graft.operators.TrackedCaches.releaseAll()
    }
  }

  test("top paths: one user-key exchange, TakeOrdered top-k") {
    withStaticPlan {
      val df = SparkEntry.queries("q_top_paths")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("TakeOrderedAndProject"),
        s"top-k should be TakeOrdered:\n$plan")
      assert(!plan.contains("Exchange rangepartitioning"),
        s"global sort leaked:\n$plan")
    }
  }

  test("triangle counts: equi-joins over cached canonical edges") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_triangle_counts")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("Cartesian") &&
        !plan.contains("BroadcastNestedLoop"),
        s"triangle join degraded:\n$plan")
      assert(plan.contains("InMemoryTableScan"),
        s"canonical edges not cached (upstream would run 3x):\n$plan")
      graft.operators.TrackedCaches.releaseAll()
    }
  }

  test("ktruss: triangle support joins stay equi-joins, no cartesian") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_ktruss")(spark, dir)
      val plan = planOf(df)
      assert(!plan.contains("Cartesian") &&
        !plan.contains("BroadcastNestedLoop"),
        s"ktruss join degraded:\n$plan")
      graft.operators.TrackedCaches.releaseAll()
    }
  }

  test("sorted neighbors: rank-band join is a bucket EQUI-join; offsets broadcast") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_sorted_neighbors")(spark, dir)
      val plan = planOf(df)
      // the band condition rides an equi-join on the rank bucket — a
      // raw pos-inequality join would be a nested-loop quadratic
      assert(!plan.contains("Cartesian") &&
        !plan.contains("BroadcastNestedLoop"),
        s"rank-band join degraded to nested loop:\n$plan")
      assert(plan.contains("BroadcastExchange"),
        s"shard offsets not broadcast:\n$plan")
    }
  }

  test("stickiness: the corpus reduces to distinct pairs before the range join") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_stickiness")(spark, dir)
      val plan = planOf(df)
      // the windowDays fan-out must hit the distinct (day,user) frame,
      // not raw events: a HashAggregate (the distinct) feeds the join
      assert(plan.contains("HashAggregate"),
        s"no distinct reduction before the window join:\n$plan")
      assert(!plan.contains("Cartesian"), s"cartesian:\n$plan")
    }
  }

  test("incremental group stats: base is touched via a semi-join only") {
    withStaticPlan {
      val df = graft.SparkEntry.queries("q_incr_source_stats")(spark, dir)
      val plan = planOf(df)
      assert(plan.contains("LeftSemi"),
        s"replaced-row fetch is not a semi-join:\n$plan")
      assert(!plan.contains("Cartesian"), s"cartesian:\n$plan")
    }
  }
}
