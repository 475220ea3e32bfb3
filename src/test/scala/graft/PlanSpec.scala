package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Analytics
import graft.logs.{LogFilter, LogView, Shaping}

/** Physical-plan assertions: the 100 TB commitments from SURVEY §4,
  * checked against `.explain` output so a regression in plan shape
  * fails CI, not a cluster.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet filters push down to the scan (PushedFilters)") {
    // filter on a NON-derived column: pushes into the parquet reader
    val df = Tables.events(spark, sf).filter(col("user_id") === 7)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters: ["))
    assert(formatted.contains("EqualTo(user_id,7"),
      s"user_id filter not pushed:\n$formatted")
  }

  test("column pruning reaches the scan (ReadSchema)") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"))
  }

  test("accumulate_top plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Shaping.accumulateTop(LogView(spark, sf), "remote_host", 10))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("window max@skip stays a bounded limit, not a full materialised sort") {
    val p = plan(Shaping.window(LogView(spark, sf), max = 100, skip = 50))
    assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"), p)
  }

  test("keyword_search scans the corpus exactly once") {
    // df comes from a window over the filtered survivor relation — a
    // tf self-join would recompute the scan+explode subtree twice,
    // and at 100 TB the corpus scan is the dominating cost
    val p = plan(graft.pipeline.TextAnalysis.keywordSearch(spark, sf01))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 corpus scan, saw $scans:\n$p")
  }

  test("dsir_weights' final plan tokenizes the corpus exactly once " +
       "(termStats served from the persisted vocab-sized cache)") {
    val df = graft.pipeline.Curation.dsirWeights(spark, sf01)
    val p = plan(df)
    // the ratio side must come from the cache, not a second explode
    // lineage: exactly one Generate ABOVE the InMemoryRelation
    // boundary (the relation prints its own build plan below it)
    val live = p.split("InMemoryRelation").head
    val gens = "Generate explode".r.findAllIn(live).size
    assert(gens == 1, s"expected 1 live corpus explode, saw $gens:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"termStats not served from cache:\n$p")
  }

  test("q5 broadcasts the small dims (region/nation)") {
    val p = plan(Analytics.q5Join(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("group_site broadcasts the site list back (no window over all rows)") {
    val p = plan(Shaping.groupSite(LogView(spark, sf), max = 3, skip = 2))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("Window"), p)
  }

  test("geoip range lookup plans as a broadcast HASH join, not BNLJ") {
    // the interval join is bucketed: equi-join on ip div 65536 with
    // the BETWEEN as residual — a per-row O(1) probe; a naive range
    // join would be a BroadcastNestedLoopJoin scanning all ranges
    val p = plan(graft.logs.Enrich.geoip(spark, LogView(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("geoip over mixed v4/v6 hosts still plans a broadcast HASH join") {
    // the family-tagged bucket dim must not degrade the probe to a
    // nested loop, and no cartesian may appear anywhere in the lookup
    val mixed = LogView(spark, sf).withColumn("remote_host",
      when(col("user_id") % 7 === 3,
        concat(lit("2001:db8:"), (col("user_id") % 10).cast("string"),
          lit("::"), (col("event_id") % 10).cast("string")))
        .otherwise(col("remote_host")))
    val p = plan(graft.logs.Enrich.geoip(spark, mixed))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("lshJaccardPairs: bucket + rehydration joins are hash joins, no quadratic op") {
    // the point of the operator is that NOTHING in the plan is
    // all-pairs: bucket self-join and both doc_id rehydration joins
    // must be (shuffled) hash joins; the wide shingle arrays must
    // never ride a broadcast; no sort-merge on array-bearing rows
    val p = plan(graft.pipeline.Dedup.lshJaccardPairs(spark, sf))
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("resolve_forwarded_to broadcasts the resolver dim") {
    val p = plan(graft.logs.Enrich.resolveForwardedTo(spark, LogView(spark, sf)))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q1 partial-aggregates map-side before the shuffle") {
    val p = plan(Analytics.q1Agg(spark, sf))
    assert(p.contains("HashAggregate"), p)
    // partial + final pair means map-side combine happened
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("date-partitioned layout prunes partitions on time filters") {
    // the 100 TB layout (SURVEY §4): events partitioned by date. The
    // since/until filter must reach PartitionFilters — i.e. prune
    // whole directories before any IO — which is what makes pond's
    // max_age eviction a metadata-only operation at scale.
    val dir = java.nio.file.Files.createTempDirectory("evpart").toString
    Tables.events(spark, sf)
      .withColumn("date", expr("date(timestamp_micros(ts div 1000))"))
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("date") === "2024-01-05")
    val formatted = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PartitionFilters: [isnotnull(date"), formatted)
    assert(pruned.count() > 0)
    val all = spark.read.parquet(dir).count()
    assert(pruned.count() < all)
  }

  test("spread is a no-op once the table has enough input splits") {
    // the production claim: multi-file tables already parallelise, so
    // no repartition shuffle is inserted
    val dir = java.nio.file.Files.createTempDirectory("evmulti").toString
    Tables.events(spark, sf).repartition(8).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val n = df.rdd.getNumPartitions
    assert(n >= spark.sparkContext.defaultParallelism) // 8 files ≥ 4 cores
    val spreadPlan = Tables.spread(spark, df).queryExecution.optimizedPlan.toString
    assert(!spreadPlan.contains("Repartition"), spreadPlan)
  }

  test("log verbs over single-file events plan no round-robin spread " +
       "below their own exchange") {
    // the measured decision (Tables.factTables): events feeds light
    // per-row work into an immediate exchange, so a spread stage only
    // adds a job
    val p = plan(Shaping.accumulateTop(LogView(spark, sf), "remote_host", 10))
    assert(p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("RoundRobinPartitioning"), p)
  }

  test("corpus tables over single-file testdata still plan the spread") {
    val p = plan(Tables.documents(spark, sf))
    assert(p.contains("RoundRobinPartitioning"), p)
  }

  test("no registered query ever plans a CartesianProduct") {
    // sweeping guard: a cartesian in any operator is a 100 TB
    // catastrophe; broadcast nested loops are allowed only where
    // intentional (tiny broadcast sides), cartesians never
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // streaming queries materialise on construction and are covered
      // by their own specs; plan-check the batch ones
      if (!name.endsWith("_stream") && name != "follow") {
        val p = fn(spark, sf).queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      }
    }
  }

  test("q_semi plans a broadcast LeftSemi (keys only cross the join)") {
    val p = plan(Analytics.qSemi(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("q_anti plans a broadcast LeftAnti (keys only cross the join)") {
    val p = plan(Analytics.qAnti(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("link_rank reuses one edge exchange across power-iteration rounds") {
    // the corpus-sized edge aggregate must be planned ONCE and
    // ReusedExchange'd into the later rounds — 3 rounds must not mean
    // 3 scans of the fact table. AQE materializes exchange reuse at
    // runtime, so execute first and read the FINAL adaptive plan.
    val df = Analytics.linkRank(spark, sf)
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val p = plan(df)
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
      p)
    // semantic sanity: sources (no incoming edges) sit at the 0.15
    // floor, sinks accumulate more
    val refs = rows.filter(_._1.endsWith(".example.org"))
    val hosts = rows.filter(_._1.endsWith(".example.com"))
    assert(refs.nonEmpty && hosts.nonEmpty, rows.keySet.toString)
    assert(refs.values.forall(_ == 150000L), refs.toString)
    assert(hosts.values.forall(_ > 150000L), hosts.toString)
  }

  test("q_grouping_sets expands the pre-aggregate, not the fact table") {
    // Expand must sit ABOVE the base-grain HashAggregate: the ×|sets|
    // row multiplication applies to |distinct groups| rows, not the
    // 100 TB scan
    val p = plan(Analytics.qGroupingSets(spark, sf))
    assert(p.contains("Expand"), p)
    val expandIdx = p.indexOf("Expand")
    assert(p.indexOf("HashAggregate", expandIdx) >= 0,
      s"no aggregate below Expand:\n$p")
  }

  test("q_correlated broadcasts the per-part aggregate side") {
    val p = plan(Analytics.qCorrelated(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_intersect reduces both branches to distinct keys (semi-agg plan)") {
    val p = plan(Analytics.qIntersect(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("decontaminate broadcasts the benchmark gram set") {
    val p = plan(graft.pipeline.Curation.decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("filter queries keep whole-stage codegen (no UDF islands)") {
    // sf01 so another suite's .cache() of the sf0.001 view can't swap
    // in an InMemoryRelation; execute first so AQE finalises the plan
    // (`*(n)` marks codegen stages in toString)
    val df = LogView(spark, sf01)
      .filter(LogFilter(sites = Set("site_1"), statusBegin = 200,
        statusEnd = 300).predicate)
    df.collect()
    val p = plan(df)
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }
}
