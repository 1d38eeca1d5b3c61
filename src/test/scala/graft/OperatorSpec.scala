package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator sanity on sf0.001: every registered query executes, returns
  * rows, and a handful of spot values match independently computed answers.
  * (Exact value-level correctness versus DuckDB is the driver's t2 gate; the
  * local mirror is tools/check.py.) */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session
  private val sf = SparkSuite.sf

  test("every registered query runs and returns rows on sf0.001") {
    // Run EVERY query before failing, and name each broken one: a thrown
    // analysis error on query #3 must not mask queries #4-202. This is the
    // fixture-drift alarm — when the driver regenerates the parquet
    // fixtures with a changed physical schema (r4: events.ts BIGINT-nanos →
    // timestamp_ntz), this assertion lists the full blast radius in one
    // message instead of letting broken queries masquerade as "omitted"
    // rows in the correctness artifact.
    val failures = SparkSuite.ledger.flatMap { w =>
      w.rows match {
        case Right(n) => if (n > 0) None else Some(s"${w.query}: 0 rows")
        case Left(err) => Some(s"${w.query}: $err")
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} of ${SparkEntry.queries.size} queries broken:\n  " +
        failures.mkString("\n  "))
  }

  test("every oracleSql key has a matching query") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracleSql without query: $unknown")
  }

  test("entry() is non-empty (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q01 preserves row count and casts/renames") {
    val li = Tables.lineitem(spark, sf)
    val out = ops.Ingest.q01Ingest(spark, sf)
    assert(out.count() === li.count())
    val sch = out.schema
    assert(sch("line_no").dataType.typeName === "long")
    assert(sch("part_id").dataType.typeName === "integer")
    assert(!sch.fieldNames.contains("l_partkey"))
  }

  test("q02 returns exactly the lineitem months absent from orders") {
    val expected = spark.sql("""
      SELECT count(DISTINCT date_trunc('month', l_shipdate)) FROM
        parquet.`/root/testdata/sf0.001/lineitem.parquet`
      WHERE date_trunc('month', l_shipdate) NOT IN
        (SELECT date_trunc('month', o_orderdate)
         FROM parquet.`/root/testdata/sf0.001/orders.parquet`)
    """).head().getLong(0)
    assert(ops.Ingest.q02Incremental(spark, sf).count() === expected)
  }

  test("q13 outer join covers every customer") {
    assert(ops.Relational.q13JoinOuter(spark, sf).count()
      === Tables.customer(spark, sf).count())
  }

  test("q15 band expansion equals the naive theta join") {
    val naive = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf),
        col("l_quantity").cast("int") >= col("p_size") - 2 &&
        col("l_quantity").cast("int") <= col("p_size"))
      .groupBy(col("p_partkey")).agg(count(lit(1)).as("c"))
    val banded = ops.Relational.q15JoinRange(spark, sf)
      .select(col("p_partkey"), col("line_count").as("c"))
    assert(naive.exceptAll(banded).isEmpty && banded.exceptAll(naive).isEmpty)
  }

  test("q20 grouped sums reconcile with the global sum") {
    val grouped = ops.Aggregates.q20AggGroup(spark, sf)
      .agg(sum("count_order")).head().getLong(0)
    assert(grouped === Tables.lineitem(spark, sf).count())
  }

  test("q23 HLL estimates within bounds and exact counts reconcile") {
    val rows = ops.Aggregates.q23AggHll(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("parts_in_bounds"),
        s"flag ${r.getString(0)}: parts HLL out of bounds")
      assert(r.getAs[Boolean]("orders_in_bounds"),
        s"flag ${r.getString(0)}: orders HLL out of bounds")
    }
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_parts") === exact(r.getString(0)))
    }
  }

  test("q29 grouping sets contains the grand total and the ls-only sets") {
    val gs = ops.Aggregates.q29AggGsets(spark, sf)
    val total = gs.filter(col("rf") === "ALL" && col("ls") === "ALL").collect()
    assert(total.length === 1)
    assert(total.head.getAs[Long]("n_rows")
      === Tables.lineitem(spark, sf).count())
    // the (ls) set exists, the (rf)-only set must NOT (not in the lattice)
    assert(gs.filter(col("rf") === "ALL" && col("ls") =!= "ALL").count() > 0)
    assert(gs.filter(col("rf") =!= "ALL" && col("ls") === "ALL").count() === 0)
  }

  test("q24 rollup contains the grand total") {
    val all = ops.Aggregates.q24AggRollup(spark, sf)
      .filter(col("rf") === "ALL" && col("ls") === "ALL").collect()
    assert(all.length === 1)
    assert(all.head.getAs[Long]("n_rows")
      === Tables.lineitem(spark, sf).count())
  }

  test("q30 emits exactly 3 rows per priority class") {
    val counts = ops.Windows.q30WinRank(spark, sf)
      .groupBy("o_orderpriority").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) === 3L))
  }

  test("q36 exact dedup is idempotent") {
    val once = ops.Dedup.q36Dedup(spark, sf)
    assert(once.count() === once.select("text").distinct().count())
  }

  test("q55 fingerprint is stable across repartitioning") {
    val a = ops.Text.q55Fingerprint(spark, sf).collect().toSeq
    val b = ops.Text.q55Fingerprint(spark, sf)
      .repartition(17).orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("hash sampling is retry-stable and split proportions hold") {
    val docs = Tables.documents(spark, sf)
    val s1 = ops.Sampling.sampleByHash(docs, "doc_id", 200)
    val s2 = ops.Sampling.sampleByHash(docs.repartition(13), "doc_id", 200)
    assert(s1.select("doc_id").collect().map(_.getLong(0)).sorted
      === s2.select("doc_id").collect().map(_.getLong(0)).sorted,
      "sample membership changed under repartitioning")
    val frac = s1.count().toDouble / docs.count().toDouble
    assert(frac > 0.1 && frac < 0.3, s"20% sample came back at $frac")
    val splits = ops.Sampling.assignSplit(docs, "doc_id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet === Set("train", "valid", "test"))
    assert(splits("train") > splits("valid") + splits("test"),
      s"80/10/10 proportions off: $splits")
  }

  test("stratified sampling rebalances strata at their own rates") {
    val docs = Tables.documents(spark, sf)
    val kept = ops.Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 250), 900)
    val base = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = after("en").toDouble / base("en")
    assert(enRate > 0.1 && enRate < 0.4, s"en keep rate $enRate !~ 0.25")
    (base.keySet - "en").foreach { l =>
      val r = after.getOrElse(l, 0L).toDouble / base(l)
      assert(r > 0.75, s"$l keep rate $r !~ 0.9")
    }
    // retry-stability: an independently REBUILT plan keeps identical rows
    // (evaluating one plan twice would pass even for seeded rand())
    val rebuilt = ops.Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 250), 900)
    assert(kept.agg(sum("doc_id")).head().getLong(0) ===
      rebuilt.agg(sum("doc_id")).head().getLong(0))
    // independence: composing with the 20% Bernoulli sampler keeps ~25%
    // of the en stratum OF THE SAMPLE — a correlated hash would keep ~100%
    val composed = ops.Sampling.stratifiedSample(
      ops.Sampling.sampleByHash(docs, "doc_id", 200),
      "doc_id", "lang", Map("en" -> 250), 900)
    val sampledEn = ops.Sampling.sampleByHash(docs, "doc_id", 200)
      .filter(col("lang") === "en").count()
    val composedEn = composed.filter(col("lang") === "en").count()
    val compRate = composedEn.toDouble / sampledEn
    assert(compRate < 0.6, s"composed en keep rate $compRate — samplers correlate")
  }

  test("scd2 collapses no-op changes and versions the rest") {
    import spark.implicits._
    // key 1: A@t1, A@t2 (no-op, collapsed), B@t3, B@t3 tie (kept: ordered
    // by tie-break, the second B collapses against the first) — versions
    // A[t1,t3) then B[t3,∞); key 2: single row, current from the start.
    val log = Seq(
      (1L, 10L, 100L, "A"), (1L, 20L, 101L, "A"),
      (1L, 30L, 102L, "B"), (1L, 30L, 103L, "B"),
      (2L, 5L, 104L, "X"))
      .toDF("k", "at", "tie", "v")
    val out = ops.Merge.scd2(log, "k", "at", "tie", "v")
      .orderBy(col("k"), col("version"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.toString), r.getInt(4), r.getBoolean(5)))
    assert(out === Seq(
      (1L, "A", 10L, Some("30"), 1, false),
      (1L, "B", 30L, None, 2, true),
      (2L, "X", 5L, None, 1, true)))
  }

  test("bloomPrune keeps every matching key (no false negatives) and prunes some rows") {
    val fact = Tables.lineitem(spark, sf)
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
    val dimKeys = dim.select("o_orderkey")
    val pruned = ops.BloomJoin.bloomPrune(fact, "l_orderkey", dim, "o_orderkey")
    val wanted = fact
      .join(dimKeys, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val kept = pruned
      .join(dimKeys, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(kept === wanted, "bloom dropped matching fact rows")
    assert(pruned.count() < fact.count(),
      "bloom pruned nothing on a selective build side")
  }

  test("q240 CDC replay: tombstones drop keys; a planted log folds by hand") {
    val out = ops.Merge.q240CdcReplay(spark, SparkSuite.sf).collect()
    // no released key ends on a delete; op counts reconcile
    out.foreach { r =>
      assert(r.getAs[String]("last_op") != "D")
      assert(r.getAs[Long]("n_ops") === r.getAs[Long]("n_inserts") +
        r.getAs[Long]("n_updates") + r.getAs[Long]("n_deletes"))
      assert(r.getAs[Long]("n_nonfinal_deletes") <= r.getAs[Long]("n_deletes"))
    }
    // dropped keys really ended on a tombstone: every key of the raw log
    // is either released or its last op is D
    import org.apache.spark.sql.functions._
    import graft.functions.StableHash
    val h = pmod(StableHash.intMix62(col("event_id"), 41L), lit(10L))
    val lastOps = Tables.events(spark, SparkSuite.sf)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(h === 0L, "D").when(h <= 2L, "I").otherwise("U").as("op"))
      .collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1), r.getLong(2)), r.getString(3)))
      .groupBy(_._1)
      .map { case (k, rows) =>
        k -> rows.maxBy(r => (r._2._1.getTime, r._2._2))._3
      }
    val released = out.map(_.getAs[Long]("user_id")).toSet
    lastOps.foreach { case (k, op) =>
      assert(released(k) === (op != "D"), s"key $k last=$op")
    }
    // (sf0.001 has only 15 users and may have no trailing tombstone at
    // all — the per-key equivalence above is the complete check; the
    // 135-vs-150-key sf0.01 oracle run shows binding tombstones live)
    assert(out.length <= lastOps.size)
  }
}
