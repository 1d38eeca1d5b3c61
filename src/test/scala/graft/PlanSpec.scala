package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests — the scale contract as assertions, not just
  * Explain eyeballing: pushdown reaches the scan, dimensions broadcast,
  * range joins never nest loops, scans are column-pruned. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session
  private val sf = SparkSuite.sf

  private def plan(df: DataFrame): String = {
    // materialize so AQE settles on the final plan
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString()
  }
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q03 pushes every filter into the parquet scan") {
    val f = formatted(ops.Relational.q03Filter(spark, sf))
    assert(f.contains("PushedFilters:"), f)
    Seq("GreaterThan(l_discount,0.05)", "EqualTo(l_returnflag,R)",
      "GreaterThanOrEqual(l_shipdate,", "LessThan(l_shipdate,")
      .foreach(p => assert(f.contains(p), s"missing pushed filter $p in:\n$f"))
  }

  test("q153 aggregate pushes completely into the synthetic source") {
    val df = ops.Ingest.q153SourceAgg(spark, sf)
    val p = plan(df)
    // complete pushdown: the scan IS the answer — no aggregate node runs
    assert(p.contains("SyntheticAggScan["), s"aggregate not pushed:\n$p")
    assert(!p.contains("HashAggregate"), s"aggregate node still present:\n$p")
    // and the closed form is right
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
      ((30000000L, 1000000L, 30999999L)))
    // grouped aggregates must DECLINE pushdown and stay correct (q05 path)
    val q05 = plan(ops.Ingest.q05Source(spark, sf))
    assert(q05.contains("HashAggregate"), q05)
  }

  test("q05 synthetic source absorbs id bounds and prunes columns") {
    val df = ops.Ingest.q05Source(spark, sf)
    val p = plan(df)
    // the id-range predicate must land INSIDE the scan's generation slice
    assert(p.contains("SyntheticScan[lo=60000, hi=90000]"),
      s"id bounds not absorbed by the source:\n$p")
    // a projection that never reads `bucket` must not generate it
    val pruned = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 100L).load()
      .select("id", "val")
    assert(pruned.queryExecution.executedPlan.toString().contains("id#"),
      "sanity: plan mentions id")
    assert(pruned.collect().map(r => (r.getLong(0), r.getLong(1))).take(3)
      === Array((0L, 7L), (1L, 38L), (2L, 69L)))
  }

  test("q57 broadcasts the benchmark gram set — the corpus never shuffles for it") {
    val p = plan(ops.Curation.q57Decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"bench side not broadcast:\n$p")
  }

  test("q66 kmeans assignment joins broadcast centroids, no sort-merge") {
    val p = plan(ops.Centroids.q66KmeansStep(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$p")
  }

  test("q64 packing windows stay partition-parallel (no single-partition funnel before the window)") {
    val df = ops.Curation.q64Packing(spark, sf)
    // the physical window must partition by source; only the final
    // determinism orderBy may range-exchange
    val p = df.queryExecution.executedPlan.toString()
    val windowIdx = p.indexOf("Window")
    assert(windowIdx >= 0, p)
    assert(!p.substring(windowIdx).contains("SinglePartition"),
      s"running-offset window funneled to one partition:\n$p")
  }

  test("q10 broadcasts the dimension and prunes the fact scan to 3 columns") {
    val f = formatted(ops.Relational.q10JoinBroadcast(spark, sf))
    assert(f.contains("BroadcastHashJoin"), f)
    assert(f.contains(
      "ReadSchema: struct<l_partkey:bigint,l_extendedprice:double," +
        "l_discount:double>"),
      s"fact scan not pruned:\n$f")
  }

  test("q12 star join broadcasts all three dimension hops") {
    val f = formatted(ops.Relational.q12JoinStar(spark, sf))
    val n = "BroadcastHashJoin".r.findAllIn(f).length
    assert(n >= 3, s"expected >=3 broadcast joins, got $n:\n$f")
  }

  test("banded range join never plans a nested loop or cartesian product") {
    Seq(ops.Relational.q15JoinRange(spark, sf),
      ops.Similarity.q73EmbeddingNeardup(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"range join degenerated to a nested loop:\n$p")
    }
  }

  test("q01 ingest pipeline is shuffle-free up to the final ordering") {
    // at the test scale the final orderBy sorts one coalesced partition
    // (SinglePartitionSort), so the plan has no exchange at all
    val p = plan(ops.Ingest.q01Ingest(spark, sf))
    assert(!p.contains("Exchange"), s"unexpected exchange in ingest plan:\n$p")
    assert("""(?m)^\+- Sort \[.*\], true, 0\n   \+- Coalesce 1$""".r
      .findFirstIn(p).isDefined,
      s"expected Coalesce 1 directly under the root sort:\n$p")
  }

  test("q70 bucket minima avoid the whole-bucket window straggler") {
    val df = ops.Dedup.q70MinhashLsh(spark, sf)
    val p = plan(df)
    // no Window over (band, sig): a mega-bucket would pin one task
    assert(!p.contains("Window"), s"whole-bucket window back in the plan:\n$p")
    // the narrow bucket frame is checkpoint-materialized and read back, so
    // the signature pipeline is absent from (= computed outside) this plan
    assert(p.contains("ExistingRDD"), s"bucket frame not materialized:\n$p")
    assert(!p.contains("arrays_zip"),
      s"signature computation re-runs inside the consumer plan:\n$p")
  }

  test("bucketed pair join is exchange-free; plain-read join is not") {
    val root = Scratch.lasting("graft-bucket-plan")
    // disable broadcast so the small sf fixture can't sidestep the shuffle
    // question with a BHJ — at 100 TB neither side broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      sources.Bucketing.writeTripPair(spark, sf, root.toString, "plan_b")
      val joined = sources.Bucketing.colocatedJoin(spark, "plan_b")
        .select("o_orderkey", "l_linenumber")
      assert(!plan(joined).contains("Exchange"),
        s"bucketed join reinstated a shuffle:\n${plan(joined)}")
      // control: the identical join over plain (unbucketed) reads MUST
      // shuffle — proves the assertion above is observing the layout, not
      // a planner quirk
      val control = Tables.orders(spark, sf)
        .join(Tables.lineitem(spark, sf),
          org.apache.spark.sql.functions.col("o_orderkey") ===
            org.apache.spark.sql.functions.col("l_orderkey"))
        .select("o_orderkey", "l_linenumber")
      assert(plan(control).contains("Exchange"), plan(control))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Seq("plan_b_orders", "plan_b_lineitem")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("q76 IVF assignment argmax stays in hash aggregation") {
    val p = plan(ops.Similarity.q76IvfTopk(spark, sf))
    // the long-encoded priority max must not fall back to SortAggregate
    // (a struct max would) — at 10^9 vectors × k centroids the assignment
    // aggregate is the biggest stage and needs map-side partial combine
    assert(!p.contains("SortAggregate"),
      s"IVF argmax fell back to sort aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q77 corpus cleaning never shuffles text after the dedup") {
    val f = formatted(ops.Corpus.q77CorpusClean(spark, sf))
    // the token-metrics aggregate runs on exploded narrow rows via hash
    // aggregation (map-side combine), and no window operator sneaks in
    assert(f.contains("HashAggregate"), f)
    assert(!f.contains("Window"), s"unexpected window in q77:\n$f")
    // the scan reads only what the pipeline needs
    assert(f.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"documents scan not pruned:\n$f")
  }

  test("q78 quantized top-k broadcasts the query set") {
    val p = plan(ops.Quantize.q78QuantizedTopk(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q19 bloom probe filters the fact side below the shuffled join") {
    val p = plan(ops.BloomJoin.q19JoinBloom(spark, sf))
    assert(p.contains("SortMergeJoin"), s"merge hint ignored:\n$p")
    assert(p.contains("might_contain"), s"bloom probe missing:\n$p")
    // the probe must sit on the scan side of the exchange, not above the join
    val probeLine = p.linesIterator.indexWhere(_.contains("might_contain"))
    val joinLine = p.linesIterator.indexWhere(_.contains("SortMergeJoin"))
    assert(probeLine > joinLine,
      s"bloom probe not below the join in the operator tree:\n$p")
  }

  test("q48 salted aggregate keys phase 1 on (key, salt)") {
    val p = plan(ops.Scale.q48Salted(spark, sf))
    assert(p.contains("__salt"), s"salt column absent from the plan:\n$p")
    // two aggregate levels: (key, salt) partials then per-key merge
    val aggs = p.linesIterator.count(l => l.contains("HashAggregate") &&
      l.contains("l_returnflag"))
    assert(aggs >= 4, s"expected partial+final aggs at both phases:\n$p")
  }

  test("q48 salt hash does not widen the scan past the 4 needed columns") {
    // The salt must derive from columns the aggregate reads anyway — a
    // full-width row hash forces the parquet scan to read all 16 lineitem
    // columns just to pick a bucket (the r4 7.0 s regression).
    val f = formatted(ops.Scale.q48Salted(spark, sf))
    val read = f.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(read.nonEmpty, s"no ReadSchema line:\n$f")
    Seq("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
      .foreach(c => assert(read.contains(c), s"$c missing from scan: $read"))
    Seq("l_orderkey", "l_comment", "l_shipdate", "l_partkey")
      .foreach(c => assert(!read.contains(c), s"scan not pruned ($c): $read"))
  }

  test("q203 shard audit is scan → two-phase aggregate, no join, 2 columns") {
    val f = formatted(ops.TrainingData.q203ShuffleShard(spark, sf))
    val read = f.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("n_chars") &&
      !read.contains("text"), s"scan must skip the text payload: $read")
    assert(!f.contains("Join"), s"shard audit must not join:\n$f")
    assert(f.contains("partial_count"), s"map-side combine missing:\n$f")
  }

  test("q205 vocabulary arrives via TakeOrdered + broadcast, never a shuffle join") {
    val f = formatted(ops.TrainingData.q205OovRate(spark, sf))
    assert(f.contains("TakeOrderedAndProject"),
      s"top-K vocab pick should be a heap, not a global sort:\n$f")
    assert(f.contains("BroadcastHashJoin"),
      s"K-row vocab must broadcast into the membership join:\n$f")
    assert(!f.contains("SortMergeJoin"),
      s"token stream must not shuffle for the vocab join:\n$f")
  }

  test("q206 digest join is equi and unhinted (AQE picks the strategy)") {
    val p = plan(ops.TrainingData.q206IncrementalDedup(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"digest membership must be an equi-join:\n$p")
    // at fixture scale AQE may broadcast the corpus digests; either hash
    // strategy is fine — the contract is only that no hint FORCES broadcast
    // (the corpus side outgrows any driver at 100 TB)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q84 salted join shuffles on (key, salt), not broadcast") {
    val p = plan(ops.Scale.q84SaltedJoin(spark, sf))
    assert(p.contains("SortMergeJoin") && p.contains("__salt"),
      s"expected a sort-merge join keyed on the salt:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"dimension was broadcast — the salted shuffle path never ran:\n$p")
  }

  test("q69/q100 are pure map work: only the determinism sort exchanges") {
    Seq(ops.Privacy.q69PiiRedact(spark, sf),
      ops.Chunking.q100Chunks(spark, sf)).foreach { df =>
      val p = plan(df)
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 1,
        s"redaction/chunking must not shuffle before the final sort:\n$p")
    }
  }

  test("q99 boilerplate set broadcasts into the anti-join") {
    val p = plan(ops.Text.q99Boilerplate(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"common-term set should broadcast-anti-join, not shuffle:\n$p")
  }

  test("q07 histogram broadcasts the 1-row bounds, no fact-side nested loop") {
    val p = plan(ops.Reshape.q07Histogram(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"bounds row should broadcast:\n$p")
    // the fact table itself must never range-exchange except the final sort
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"expected partial+final aggs for bounds+buckets:\n$p")
  }

  test("scalar queries stay inside whole-stage codegen") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq(ops.Scalars.q42Math(spark, sf), ops.Scalars.q40String(spark, sf),
        ops.Scalars.q45Links(spark, sf))
        .foreach { df =>
          val p = df.queryExecution.executedPlan.toString()
          // "*(n) " prefixes mark WholeStageCodegen stages in the compact
          // plan string; the projection must carry one
          assert(p.linesIterator.exists(l =>
            l.contains("*(") && l.contains("Project")),
            s"projection outside codegen:\n$p")
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q113/q123 pair generators never plan a nested loop or cartesian") {
    Seq(ops.SetSim.q113SetsimJoin(spark, sf),
      ops.Intervals.q123IntervalOverlap(spark, sf)).foreach { df =>
      val p = df.queryExecution.executedPlan.toString()
      assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    }
  }

  test("q129 total arrives by broadcast, not a global window") {
    val p = ops.Aggregates.q129Share(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Window"), s"global window crept in:\n$p")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), // 1-row total cross join
      s"expected a broadcast total:\n$p")
  }

  test("q130 PIT join is an equi-join on the key with the range residual") {
    val p = ops.Merge.q130PitJoin(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the dimension key must be a hash/sort-merge/broadcast EQUI key —
    // a nested loop would mean the range predicate swallowed the key
    assert(p.contains("custkey"), p)
  }

  test("q173 joins the part dimension by broadcast, never shuffle") {
    val p = plan(ops.Windows.q173Seasonality(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast dim join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"dimension join degraded to a shuffle:\n$p")
  }

  test("q184 candidate join is equi on the feature, no cartesian") {
    val p = plan(ops.Tfidf.q184SparseKnn(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"pair generation went quadratic:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"pair generation nested loops:\n$p")
  }

  test("q190 builds zone stats in one pass with a partial aggregate") {
    val p = plan(graft.sources.ZOrder.q190Zonemap(spark, sf))
    // map-side combine: partial_min/partial_max before the exchange
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"no map-side partial aggregate:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the tiny zone frame must broadcast, not shuffle:\n$p")
  }

  test("q198 predicts join size without materializing the join fan-out") {
    val df = ops.Scale.q198JoinSize(spark, sf)
    val p = plan(df)
    // both sides collapse to histograms BEFORE any join: the only joins
    // in the plan are histogram-sized, so no operator carries the
    // event×order fan-out
    assert(p.contains("HashAggregate"), p)
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(p).length
    assert(joins <= 3, s"unexpected join count $joins:\n$p")
  }

  test("q229 PQ: codebook and probe frames broadcast; no cartesian scan") {
    // inspected on the PRE-cut plan: the r16 determinism-sort cut hides
    // the ADC path behind a checkpoint scan in the returned plan
    val p = ops.Checkpoints.withNoCut(plan(ops.Quantize.q229PqAdc(spark, sf)))
    assert(p.contains("BroadcastExchange"), s"nothing broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cartesian product in the ADC path:\n$p")
  }

  test("q234 corr matrix: projections read the checkpoint, not parquet") {
    // the 15-sum aggregate runs ONCE (eager localCheckpoint inside the
    // builder); the returned union of 6 pair projections must not contain
    // a parquet scan — re-scanning lineitem per pair is exactly the
    // failure mode the checkpoint exists to prevent
    val p = plan(ops.Regression.q234CorrMatrix(spark, sf))
    assert(!p.contains("FileScan parquet"),
      s"pair projections re-scan the fact table:\n$p")
    assert(p.contains("Union"), p)
  }

  test("q235 bootstrap: no join anywhere — replicate means are one aggregate") {
    val p = plan(ops.Robust.q235PoissonBootstrap(spark, sf))
    val joins = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length
    assert(joins === 0, s"shuffled join in the bootstrap path:\n$p")
    assert(p.contains("Generate"), s"replicate explode missing:\n$p")
  }

  test("q236 kNN: probe set broadcasts against one corpus scan") {
    val p = plan(ops.Evaluation.q236KnnClassify(spark, sf))
    assert(p.contains("BroadcastExchange"), s"probes not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n$p")
  }

  test("q247 modularity: community joins land as runtime broadcasts " +
    "under AQE") {
    // r8: the forced broadcast() hints are GONE (part is SF-proportional
    // — a hint that is harmless at sf0.1 pins billions of keys to the
    // driver at 100×; BenchContractSpec pins zero hints). The static
    // plan therefore starts as sort-merge; this pin asserts AQE's
    // runtime sizing CONVERTS the community-cardinality joins to
    // broadcasts at fixture scale — de-hinting traded a frozen choice
    // for the same fast plan, not for a slower one. Must inspect the
    // FINALIZED adaptive plan (collect on the df itself; the noop-save
    // helper finalizes a clone, not this queryExecution).
    val df = ops.Graph.q247Modularity(spark, sf)
    df.collect(): scala.Unit
    // keep only the Final Plan section — the adaptive toString appends
    // the Initial Plan, whose pre-runtime sort-merge joins are exactly
    // what AQE is being asserted to have replaced
    val p = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(p.contains("isFinalPlan=true"), p)
    assert(!p.contains("SortMergeJoin"), s"shuffled join downstream:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // the edge list is the staged co-purchase copy, a narrow re-read by
    // design; any other parquet scan past the first is a fact re-scan
    val scans = p.linesIterator.count(l => l.contains("FileScan parquet") &&
      !l.contains("graft-copurchase-"))
    assert(scans <= 1, s"fact re-scan downstream ($scans):\n$p")
  }

  test("q255 HITS: 1-row max broadcasts; top-k is a single reduction") {
    // the half-round sums sit behind per-round checkpoints, so the final
    // plan must read checkpointed score frames, broadcast the 1-row max
    // (never a shuffled join against it), and lower the per-side top-10
    // to TakeOrderedAndProject — no global sort of the node set.
    val p = plan(ops.Graph.q255Hits(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), s"top-k not single-pass:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cross join:\n$p")
  }

  test("q256 LPA: no parquet re-scan downstream of the edge checkpoint") {
    // every round joins the checkpointed adjacency against a node-sized
    // label frame — the fact table must never be re-read per round
    val p = plan(ops.Graph.q256LabelProp(spark, sf))
    assert(!"FileScan parquet".r.findAllIn(p).hasNext,
      s"fact re-scan downstream of checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }
}
