package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Near-dup detectors verified on planted duplicates (the fixture corpus has
  * no exact dups, so these suites construct their own). */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session
  import spark.implicits._

  // Long enough that a 1-token edit keeps Jaccard ~0.9 — comfortably above
  // the 4-band×4-row LSH threshold (~0.71), so the planted near-dup is
  // caught with margin rather than sitting on the probabilistic knife edge
  // (with fixed hash constants the outcome is deterministic either way).
  private val base =
    "spark group query row data slow small filter customer line table scan " +
    "merge part window hash vector fast column order join stream agg key sort " +
    "batch shuffle executor driver stage task codegen parquet schema broadcast " +
    "bucket salt skew spill cache lineage plan rule cost metric gauge trace span"
  private val near = base.replace("slow", "quick") // 1-token edit
  private val far =
    "completely different words about weather mountains rivers oceans " +
    "forests deserts valleys glaciers islands peninsulas archipelagos deltas"

  private def corpus = Seq(
    (0L, base), (1L, base), (2L, near), (3L, far), (4L, far + " extra tail"))
    .toDF("doc_id", "text")

  test("charPoly matches the DuckDB list_reduce fold (pinned value)") {
    // Pinned against DuckDB: list_reduce(list_transform(string_split(
    // 'the quick brown',''), c -> ascii(c)::BIGINT),
    // (acc,x) -> (acc*131+x) % 2147483647) = 1349133910. If Spark's
    // split(s, "") or ascii ever diverges from DuckDB's char semantics,
    // q70/q71's oracle parity breaks here first.
    val v = Seq("the quick brown").toDF("s")
      .select(graft.functions.StableHash.charPoly(col("s"), 131L, 2147483647L)
        .as("h"))
      .head().getLong(0)
    assert(v === 1349133910L)
  }

  test("minhash LSH clusters exact duplicates together") {
    val clusters = Dedup.minhashClusters(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) === 0L, "identical docs must share a cluster rep")
    assert(clusters(0L) === 0L)
    assert(clusters(3L) != 0L, "unrelated doc must not join the cluster")
  }

  test("minhash LSH catches the 1-token near-duplicate") {
    val clusters = Dedup.minhashClusters(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(2L) === 0L,
      "1-token edit of a 24-token doc shares 21/26 shingles; at least one " +
      "of 4 bands should collide")
  }

  test("simhash: identical text ⇒ identical hash; near text ⇒ close hash") {
    val hs = Dedup.simhash(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(0L) === hs(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hs(0L), hs(2L)) <= 12,
      s"near-dup hamming was ${hamming(hs(0L), hs(2L))}")
    assert(hamming(hs(0L), hs(3L)) > 12,
      s"unrelated hamming was ${hamming(hs(0L), hs(3L))}")
  }

  test("minhash clustering is stable across partitioning") {
    val a = Dedup.minhashClusters(corpus).collect().toSeq
    val b = Dedup.minhashClusters(corpus.repartition(13))
      .collect().toSeq
    assert(a === b)
  }

  test("q223 sweep: nested bands make candidate sets monotone in n_bands") {
    // Band boundaries nest (16/nb rows per band, nb ∈ {2,4,8,16}), so an
    // all-equal band at a coarser config forces all-equal sub-bands at
    // every finer one: candidates can only be ADDED as n_bands grows.
    // On the confusion counts that is: tp and fp nondecreasing, fn and tn
    // nonincreasing, recall nondecreasing — with n_docs constant.
    val rows = ops.Dedup.q223LshSweep(spark, SparkSuite.sf)
      .orderBy(col("n_bands")).collect()
    assert(rows.map(_.getAs[Int]("n_bands")).toSeq === Seq(2, 4, 8, 16))
    assert(rows.map(_.getAs[Long]("n_docs")).distinct.length === 1)
    rows.sliding(2).foreach { case Array(c, f) =>
      assert(f.getAs[Long]("tp") >= c.getAs[Long]("tp"), "tp shrank")
      assert(f.getAs[Long]("fp") >= c.getAs[Long]("fp"), "fp shrank")
      assert(f.getAs[Long]("fn") <= c.getAs[Long]("fn"), "fn grew")
      assert(f.getAs[Long]("tn") <= c.getAs[Long]("tn"), "tn grew")
      assert(f.getAs[Double]("lsh_recall") >= c.getAs[Double]("lsh_recall"))
    }
  }

  test("ngram jaccard: q72 on fixture matches per-pair recomputation") {
    val out = ops.Dedup.q72NgramJaccard(spark, SparkSuite.sf)
    val row = out.head()
    val (d1, d2) = (row.getLong(0), row.getLong(1))
    val docs = Tables.documents(spark, SparkSuite.sf)
      .filter(col("doc_id").isin(d1, d2))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    def grams(t: String) =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (g1, g2) = (grams(docs(d1)), grams(docs(d2)))
    val expected = g1.intersect(g2).size.toDouble / g1.union(g2).size
    assert(math.abs(row.getAs[Double]("jaccard") - expected) < 1e-12)
  }

  test("q248 containment: a planted quote scores ~1 where jaccard is low") {
    // real-fixture pairs: containment >= jaccard always, contained doc
    // has the smaller gram set
    val rows = ops.Dedup.q248Containment(spark, SparkSuite.sf).collect()
    val jac = ops.Dedup.q72NgramJaccard(spark, SparkSuite.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard"))
      .toMap
    rows.foreach { r =>
      val key = (r.getAs[Long]("d1"), r.getAs[Long]("d2"))
      val c = r.getAs[Double]("containment")
      assert(c >= jac(key) - 1e-12, s"$key containment < jaccard")
      assert(c >= 0.0 && c <= 1.0)
      assert(r.getAs[Boolean]("near_superset") === (c >= 0.5))
    }
    // planted case: doc B = doc A's text + a long unique tail → the pair
    // must flag near-superset with containment 1 while jaccard is small
    val sp = spark
    import sp.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val tail = (1 to 40).map(i => s"w$i").mkString(" ")
    val dir = Scratch.lasting("q248tiny").toString
    Seq((0L, a), (1L, a + " " + tail)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = ops.Dedup.q248Containment(spark, dir).collect()
    val p = planted.find(r => r.getAs[Long]("d1") == 0L &&
      r.getAs[Long]("d2") == 1L).get
    assert(p.getAs[Double]("containment") === 1.0)
    assert(p.getAs[Long]("contained_doc") === 0L)
    assert(p.getAs[Boolean]("near_superset"))
  }

  test("q261 incremental LSH: internally consistent and subsumed by q70") {
    val sf = SparkSuite.sf
    val out = Dedup.q261IncrementalLsh(spark, sf).localCheckpoint()
    val m = Dedup.IncrementalLshMod
    // the split is real and the audit non-vacuous
    assert(out.filter(col("doc_id") % m =!= 0).count() === 0L)
    assert(out.filter(col("verdict") === "dup_corpus").count() > 0L)
    assert(out.filter(col("verdict") === "novel").count() > 0L)
    // verdict precedence and representative provenance
    assert(out.filter(col("verdict") === "dup_corpus" &&
      col("corpus_rep").isNull).count() === 0L)
    assert(out.filter(col("corpus_rep").isNotNull &&
      col("corpus_rep") % m === 0).count() === 0L,
      "corpus_rep must be a standing-corpus document")
    assert(out.filter(col("batch_rep").isNotNull &&
      (col("batch_rep") % m =!= 0 || col("batch_rep") >= col("doc_id")))
      .count() === 0L, "batch_rep must be an EARLIER batch document")
    // subsumption: if the full corpus-wide clustering (q70) marks an
    // incoming doc as a duplicate, its smaller bucket-mate is either a
    // corpus doc or an earlier batch doc — the incremental probe must
    // have seen one of the two
    val full = Dedup.q70MinhashLsh(spark, sf)
      .filter(col("doc_id") % m === 0 && col("is_duplicate"))
      .select(col("doc_id"))
    val missed = full.join(out.filter(col("corpus_rep").isNull &&
      col("batch_rep").isNull), Seq("doc_id"), "left_semi")
    assert(missed.count() === 0L,
      "q70 found a duplicate the incremental probe missed")
  }

  test("q263 bucket-balance identities reconcile with the bucket frame") {
    val sf = SparkSuite.sf
    val out = Dedup.q263LshBalance(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nb, nd, mx, p95, pairs, singles) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      // every doc lands in exactly one bucket per band
      assert(nd === docs)
      // order statistics are coherent and the pair count is bounded by
      // what the max bucket alone could generate times bucket count
      assert(p95 <= mx && mx <= nd && singles <= nb)
      assert(pairs >= mx * (mx - 1) / 2)
      // singletons generate no candidate pairs: a fully-singleton band
      // must report zero pairs
      if (singles == nb) assert(pairs === 0L)
    }
    // the candidate-pair total per band equals a direct recomputation
    val direct = Dedup.bandBuckets(
        Tables.documents(spark, sf).select(col("doc_id"), col("text")))
      .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("s"))
      .groupBy(col("band"))
      .agg(sum(expr("s * (s - 1) div 2")).as("p"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(r.getLong(5) === direct(r.getInt(0))))
  }

  test("capped LSH: recall unchanged at the production cap, graceful and " +
    "accounted when the cap bites") {
    val sf = SparkSuite.sf
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // Production cap: q263 measured max bucket 4 at sf0.1 AND the sf1
    // point, far under LshBucketCap — so capped clustering must be
    // bit-identical to the uncapped q70 form on the fixture.
    val uncapped = Dedup.minhashClusters(docs)
      .select("doc_id", "cluster_rep", "is_duplicate").collect().toSeq
    val capped = Dedup.minhashClustersCapped(docs)
      .select("doc_id", "cluster_rep", "is_duplicate").collect().toSeq
    assert(capped === uncapped, "recall changed at the production cap")
    // cap=1 skips EVERY multi-doc bucket: nobody can see a bucket-mate,
    // so every doc must survive as its own singleton representative —
    // the doc spine is preserved, never dropped
    val all1 = Dedup.minhashClustersCapped(docs, cap = 1).collect()
    assert(all1.length === docs.count())
    all1.foreach { r =>
      assert(r.getAs[Long]("cluster_rep") === r.getAs[Long]("doc_id"))
      assert(!r.getAs[Boolean]("is_duplicate"))
    }
    // planted mega-bucket: the capped variant still clusters the pair
    // whose buckets stay small while skipping the boilerplate bucket
    val planted = corpus // 0,1 exact dups; 2 near-dup of 0
    val rep = Dedup.minhashClustersCapped(planted, cap = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cluster_rep")).toMap
    assert(rep(1L) === 0L && rep(2L) === 0L)
    // accounting identity vs q263: generated + skipped = the band's
    // candidate-pair total, at every reported cap
    val balance = Dedup.q263LshBalance(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(5)).toMap
    Dedup.q264LshCapped(spark, sf).collect().foreach { r =>
      val (band, gen, skip) = (r.getInt(1),
        r.getAs[Long]("pairs_generated"), r.getAs[Long]("pairs_skipped"))
      assert(gen + skip === balance(band),
        s"cap=${r.getInt(0)} band=$band: $gen + $skip != ${balance(band)}")
      // buckets are partitioned exactly into kept and capped
      assert(r.getAs[Long]("n_capped_buckets") <=
        r.getAs[Long]("n_buckets"))
    }
    // the cap=2 demo row must actually exercise the skip path (the
    // fixture has buckets of size 3–4)
    val demo = Dedup.q264LshCapped(spark, sf).collect()
      .filter(_.getInt(0) == 2)
    assert(demo.exists(_.getAs[Long]("pairs_skipped") > 0L),
      "cap=2 skipped nothing — the accounting path is untested")
  }

  test("q261's aggregated index probes like the raw corpus buckets") {
    // The scale claim: pre-aggregating the index to one row per bucket
    // loses nothing. Probe the RAW corpus bucket rows and compare.
    val sf = SparkSuite.sf
    val m = Dedup.IncrementalLshMod
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val all = Dedup.bandBuckets(docs).localCheckpoint()
    val probe = all.filter(col("doc_id") % m === 0)
    val raw = probe.join(
      all.filter(col("doc_id") % m =!= 0)
        .select(col("band"), col("sig"), col("doc_id").as("cd")),
      Seq("band", "sig"))
      .groupBy(col("doc_id")).agg(min(col("cd")).as("corpus_rep"))
    val viaIndex = Dedup.q261IncrementalLsh(spark, sf)
      .filter(col("corpus_rep").isNotNull)
      .select(col("doc_id"), col("corpus_rep"))
    assert(raw.exceptAll(viaIndex).isEmpty &&
      viaIndex.exceptAll(raw).isEmpty)
  }
}
