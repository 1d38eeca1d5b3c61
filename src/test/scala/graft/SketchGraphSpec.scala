package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Aggregates, Graph, Privacy, Sampling, Text}

/** Round-5 additions: triangle counting, common-neighbor link prediction,
  * k-anonymity, the KMV distinct sketch, token entropy, and weighted
  * sampling. Hand-computed fixtures where the algebra is small enough;
  * independent brute-force twins where it isn't. */
class SketchGraphSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session
  private val sf = SparkSuite.sf
  import spark.implicits._

  test("triangleCounts: K4 — every node in 3 triangles") {
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("pa", "pb")
    val out = Graph.triangleCounts(e).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L),
      (4L, 3L, 3L)))
  }

  test("triangleCounts: a path has no triangles") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("pa", "pb")
    val out = Graph.triangleCounts(e)
    assert(out.agg(sum("n_tri")).head.getLong(0) === 0L)
    assert(out.count() === 4L)
  }

  test("q139 equals the unoriented three-way-join count on sf0.001") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
    val e = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")),
        Seq("l_orderkey"))
      .filter(col("pa") < col("pb"))
      .select("pa", "pb").distinct().localCheckpoint()
    // brute force: ordered triples (a<b<c by id) with all three edges
    val brute = e.select(col("pa").as("a"), col("pb").as("b"))
      .join(e.select(col("pa").as("b"), col("pb").as("c")), Seq("b"))
      .join(e.select(col("pa").as("a"), col("pb").as("c")), Seq("a", "c"))
      .count()
    val mine = Graph.q139Triangles(spark, sf)
      .agg(sum("n_tri")).head.getLong(0)
    assert(mine === brute * 3) // each triangle attributed to its 3 nodes
    assert(brute > 0)
  }

  test("triangleCounts: wedge fallback equals broadcast path (gate=0)") {
    // Same fixture graph through both sides of the size gate: the
    // default takes the broadcast-adjacency closing, gate 0 forces every
    // graph onto the wedge self-join + SHUFFLE_HASH probe (the 100 TB
    // path). Full (node, degree, n_tri) frames must be identical.
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"))
    val e = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")),
        Seq("l_orderkey"))
      .filter(col("pa") < col("pb"))
      .select("pa", "pb").distinct().localCheckpoint()
    val viaBroadcast = Graph.triangleCounts(e).orderBy("node").collect()
    val viaWedge = Graph.triangleCounts(e, maxBroadcastEdges = 0L)
      .orderBy("node").collect()
    assert(viaBroadcast.toSeq === viaWedge.toSeq)
    assert(viaBroadcast.nonEmpty)
  }

  test("commonNeighborPairs: square — diagonals share both neighbors") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("pa", "pb")
    val out = Graph.commonNeighborPairs(e).orderBy("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq === Seq((1L, 3L, 2L, 2L, 2L, 1.0),
      (2L, 4L, 2L, 2L, 2L, 1.0)))
  }

  test("q141 releases only groups of size >= 5, never invents rows") {
    val out = Privacy.q141Kanon(spark, sf)
    assert(out.agg(min("n_group")).head.getLong(0) >= 5L)
    val released = out.count()
    val total = Tables.customer(spark, sf).count()
    assert(released > 0 && released <= total)
    // generalized rows carry the wildcard segment, and every concrete
    // segment group independently satisfies k at the coarse level
    val concrete = out.filter(col("segment") =!= "*")
      .groupBy("c_nationkey", "segment", "bal_sign").count()
    assert(concrete.filter(col("count") < 5).count() === 0L)
  }

  test("q142 KMV: kept size and estimate sanity on sf0.001") {
    val rows = Aggregates.q142Kmv(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1); val kept = r.getLong(2)
      val est = r.getDouble(4)
      assert(kept === math.min(64L, exact))
      if (kept < 64) assert(est === exact.toDouble)
      else assert(math.abs(est - exact) / exact < 0.5,
        s"KMV estimate $est too far from exact $exact")
    }
  }

  test("tokenEntropy: hand-computed exact cases") {
    val docs = Seq((1L, "a a b b"), (2L, "a b c d"), (3L, "x x x"))
      .toDF("doc_id", "text")
    val out = Text.tokenEntropy(docs).orderBy("doc_id")
      .select("doc_id", "n_tokens", "entropy")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out(0) === ((1L, 4L, 1.0))) // 2 symbols, uniform — exact
    assert(out(1) === ((2L, 4L, 2.0))) // 4 symbols, uniform — exact
    // constant doc: exact answer is 0, but 3·log2(3) rounds up at the 6th
    // decimal (the documented determinism trade), leaving ≈ −1.7e-7
    assert(out(2)._1 === 3L && out(2)._2 === 3L)
    assert(math.abs(out(2)._3) < 1e-5)
  }

  test("q145 chi-square: margins and total reconcile") {
    val out = ops.DataQuality.q145Chisq(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(6) >= 0L) // chi_num is a square
      assert(r.getLong(7) > 0L)
      val contrib = r.getDouble(8)
      assert(contrib === r.getLong(6).toDouble / r.getLong(7).toDouble)
    }
    // the replicated total equals the decimal-rounded sum of contributions
    val total = out.head.getDouble(9)
    val manual = out.map(r => BigDecimal(r.getDouble(8))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    assert(math.abs(total - manual) < 1e-9)
  }

  test("q146 decay weights stay inside the half-life envelope") {
    val out = ops.Events.q146Decay(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getLong(1); val dec = r.getLong(2); val pur = r.getLong(3)
      assert(dec <= n * 1048576L)        // nothing newer than the anchor
      assert(dec >= n * 1048576L / 32L)  // fixture spans < 5 half-lives
      assert(pur >= 0L && pur <= dec)
    }
  }

  test("q147 keeps exactly one representative per group, the longest") {
    val out = ops.Components.q147RepRetention(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    val byComp = out.groupBy(_._2)
    byComp.foreach { case (_, members) =>
      assert(members.count(_._5) === 1)
      val rep = members.find(_._5).get
      // representative maximizes (n_chars, doc_id)
      assert(members.forall(m =>
        Ordering.Tuple2[Long, Long].compare((m._3, m._1),
          (rep._3, rep._1)) <= 0))
      assert(members.forall(_._4 === rep._1)) // rep_doc consistent
    }
  }

  test("q148 LM score stays inside [0, log2(corpus)] bits per token") {
    val out = ops.Text.q148LmScore(spark, sf).collect()
    assert(out.length === 500)
    val nCorpus = out.map(_.getLong(1)).sum // Σ doc tokens = corpus tokens
    val maxBits = math.log(nCorpus.toDouble) / math.log(2.0)
    out.foreach { r =>
      val bits = r.getDouble(3)
      // rarest-possible token (count 1) contributes log2(N); commonest
      // cannot push below 0 (+ the documented 1e-6-scale decimal rounding)
      assert(bits > -1e-4 && bits <= maxBits + 1e-4, s"bits=$bits")
    }
  }

  test("q237 bigram LM: bounds hold and a tiny corpus matches by hand") {
    val out = ops.Text.q237BigramLm(spark, sf).collect()
    assert(out.length === 20)
    out.foreach { r =>
      val bpb = r.getAs[Double]("bits_per_bigram")
      // add-one smoothing keeps every probability in (0, 1): bits > 0;
      // and cannot exceed log2(c1 + V) ≤ log2(2·corpus bigrams)
      assert(bpb > 0.0, s"${r.getString(0)} bits $bpb")
      assert(r.getAs[Long]("n_bigrams") > 0L)
    }
    // hand-check: corpus of two docs, same source
    //  d1: "a b a b"  -> bigrams: (a b), (b a), (a b)
    //  d2: "a c"      -> bigrams: (a c)
    // c12: (a b)=2, (b a)=1, (a c)=1; c1: a=3, b=1; V = {a,b,c} = 3
    // bits = 2·(log2(3+3)-log2(2+1)) + 1·(log2(1+3)-log2(1+1))
    //      + 1·(log2(3+3)-log2(1+1))  over 4 bigrams
    val sp = spark
    import sp.implicits._
    val tiny = Seq((0L, "s", "a b a b"), (1L, "s", "a c"))
      .toDF("doc_id", "source", "text")
    val dir = Scratch.lasting("q237tiny").toString
    tiny.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = ops.Text.q237BigramLm(spark, dir).collect().head
    def r6(x: Double) = math.rint(x * 1e6) / 1e6 // the DECIMAL(18,6) round
    val expBits = r6(2.0 * (math.log(6.0 / 3.0) / math.log(2.0))) +
      r6(math.log(4.0 / 2.0) / math.log(2.0)) +
      r6(math.log(6.0 / 2.0) / math.log(2.0))
    assert(got.getAs[Long]("n_bigrams") === 4L)
    assert(got.getAs[Long]("n_docs") === 2L)
    assert(math.abs(got.getAs[Double]("sum_bits") - expBits) < 1e-6)
    assert(math.abs(got.getAs[Double]("bits_per_bigram") - expBits / 4.0)
      < 1e-6)
  }

  test("q252 BFS layers match a driver-side BFS exactly") {
    val out = ops.Graph.q252BfsLayers(spark, sf).collect()
      .map(r => r.getAs[Long]("hop") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("min_node"))).toMap
    // driver-side BFS on the collected edge list
    val edges = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values
      .flatMap(ls => ls.map(_._2).distinct.sorted.combinations(2))
      .map(p => (p(0), p(1))).toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val seed = adj.toSeq.map { case (n, ns) => (n, ns.size) }
      .sortBy { case (n, d) => (-d, n) }.head._1
    var frontier = Set(seed); var seen = Set(seed)
    val layers = scala.collection.mutable.Map(0L -> Set(seed))
    for (h <- 1 to ops.Graph.BfsMaxHops) {
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
      if (next.nonEmpty) layers(h.toLong) = next
      seen ++= next; frontier = next
    }
    layers.foreach { case (h, ns) =>
      assert(out(h) === ((ns.size.toLong, ns.min)), s"hop $h")
    }
    val unreached = adj.keySet -- seen
    if (unreached.nonEmpty)
      assert(out(-1L) === ((unreached.size.toLong, unreached.min)))
    else assert(!out.contains(-1L))
    assert(out(0L)._1 === 1L)
  }

  test("q247 modularity: identities hold; a 2-clique toy graph scores 0.5") {
    val out = ops.Graph.q247Modularity(spark, sf).collect()
    val total = out.find(_.getString(0) == "*").get
    val comms = out.filter(_.getString(0) != "*")
    // degree sum = 2m; intra-edges <= m; contributions add to the total
    val m2 = total.getAs[Long]("d_c")
    assert(m2 % 2 === 0L)
    assert(comms.map(_.getAs[Long]("m_c")).sum ===
      total.getAs[Long]("m_c"))
    assert(total.getAs[Long]("m_c") <= m2 / 2)
    val q = total.getAs[Double]("q_contrib")
    assert(q >= -0.5 && q <= 1.0, s"modularity $q out of range")
    assert(math.abs(comms.map(_.getAs[Double]("q_contrib")).sum - q)
      < 1e-12)
    // toy check via the same integer formula: two disjoint triangles
    // labeled into their own communities → Q = 2·(3·6·4−6²)/(4·36) = 0.5
    val toyM = 6L
    val toyT = 2L * (toyM * 3 * 4 - 36)
    assert(toyT.toDouble / (4 * toyM * toyM) === 0.5)
  }

  test("q242 spectrum: rollup row IS transitivity; buckets reconcile") {
    val out = ops.Graph.q242ClusteringSpectrum(spark, sf).collect()
    val total = out.find(_.getAs[Long]("degree") == -1L).get
    val buckets = out.filter(_.getAs[Long]("degree") != -1L)
    // rollup reconciles with the buckets exactly
    assert(buckets.map(_.getAs[Long]("n_nodes")).sum ===
      total.getAs[Long]("n_nodes"))
    assert(buckets.map(_.getAs[Long]("sum_tri")).sum ===
      total.getAs[Long]("sum_tri"))
    assert(buckets.map(_.getAs[Long]("sum_wedges")).sum ===
      total.getAs[Long]("sum_wedges"))
    // every coefficient is a valid ratio in [0, 1]
    out.foreach { r =>
      val c = r.getAs[Double]("coef")
      assert(c >= 0.0 && c <= 1.0, s"degree ${r.getAs[Long]("degree")}: $c")
      assert(r.getAs[Long]("sum_tri") <= r.getAs[Long]("sum_wedges"))
    }
    // transitivity identity vs q139's raw counts: Σ n_tri = 3Δ over
    // degree≥2 nodes, wedges = Σ C(d,2)
    val raw = ops.Graph.q139Triangles(spark, sf).collect()
      .filter(_.getAs[Long]("degree") >= 2)
    assert(raw.map(_.getAs[Long]("n_tri")).sum ===
      total.getAs[Long]("sum_tri"))
    assert(raw.map(r => { val d = r.getAs[Long]("degree")
      d * (d - 1) / 2 }).sum === total.getAs[Long]("sum_wedges"))
  }

  test("q238 buckets: thirds partition each source; head scores lowest") {
    val out = ops.Text.q238CcnetBuckets(spark, sf).collect()
    val bySrc = out.groupBy(_.getString(0))
    // per-source doc totals reconcile with the corpus
    val srcSizes = Tables.documents(spark, sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.foreach { case (src, rows) =>
      val n = rows.map(_.getAs[Long]("n_docs")).sum
      assert(n === srcSizes(src), s"$src total")
      val byBucket = rows.map(r =>
        r.getString(1) -> (r.getAs[Long]("n_docs"),
          r.getAs[Double]("min_bits"), r.getAs[Double]("max_bits"))).toMap
      // integer-quota thirds: sizes differ by at most 1
      val sizes = byBucket.values.map(_._1)
      assert(sizes.max - sizes.min <= 1L, s"$src sizes $sizes")
      // score bands are ordered: head ≤ middle ≤ tail
      for {
        h <- byBucket.get("head"); m <- byBucket.get("middle")
        t <- byBucket.get("tail")
      } {
        assert(h._3 <= m._2 + 1e-12, s"$src head/middle overlap")
        assert(m._3 <= t._2 + 1e-12, s"$src middle/tail overlap")
      }
    }
  }

  test("q149 source overlap: intersection bounded by set sizes") {
    val out = ops.Corpus.q149SourceOverlap(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (ga, gb, inter, union) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(inter >= 1L && inter <= math.min(ga, gb))
      assert(union === ga + gb - inter)
      assert(r.getDouble(6) === inter.toDouble / union.toDouble)
    }
    // pairs are canonically ordered and unique
    val pairs = out.map(r => (r.getString(0), r.getString(1)))
    assert(pairs.forall(p => p._1 < p._2))
    assert(pairs.distinct.length === pairs.length)
  }

  test("q150 streaks equal a driver-side recomputation") {
    val expected = Tables.events(spark, sf)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          .as("day"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).map { case (u, rows) =>
        val days = rows.map(_._2).distinct.sorted
        val runs = days.foldLeft(List.empty[(Int, Int)]) { // (start, end)
          case ((s, e) :: rest, d) if d == e + 1 => (s, d) :: rest
          case (acc, d) => (d, d) :: acc
        }.reverse.map { case (s, e) => (e - s + 1, e) } // (len, end)
        u -> (runs.length.toLong, runs.map(_._1).max.toLong,
          days.length.toLong, runs.maxBy(_._2)._1.toLong)
      }
    val got = ops.Events.q150Streaks(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got === expected)
  }

  test("q151 BM25 ranks descending and never retrieves the query doc") {
    val out = ops.Tfidf.q151Bm25(spark, sf).collect()
    assert(out.length === 50)
    assert(out.forall(_.getLong(0) != 7L))
    assert(out.forall(_.getLong(1) >= 1L)) // every hit shares >= 1 term
    val scores = out.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("q152 recall audit: one row per query, recall = hits/5") {
    val out = ops.Similarity.q152AnnRecall(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === (0L to 4L))
    out.foreach { r =>
      val hits = r.getLong(1)
      assert(hits >= 0L && hits <= 5L)
      assert(r.getDouble(2) === hits.toDouble / 5.0)
    }
    // the multi-table LSH union should retrieve most true neighbors on
    // the fixture (SimilaritySpec pins the same bar for the raw pair set)
    assert(out.map(_.getLong(1)).sum >= 15L)
  }

  test("q144 weighted sampling is deterministic and weight-monotone") {
    val a = Sampling.q144WeightedSample(spark, sf).collect()
    val b = Sampling.q144WeightedSample(spark, sf).collect()
    assert(a.toSeq === b.toSeq) // retry-stability
    a.foreach { r =>
      val total = r.getLong(1); val kept = r.getLong(2)
      assert(kept <= total)
      val ratio = r.getDouble(5)
      assert(ratio > 0.2 && ratio < 2.0,
        s"kept_vs_expected $ratio outside sanity band")
    }
  }
}
