package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Curation

/** Curation operators on the fixture — the oracle rows prove engine parity;
  * these prove the semantics mean what the Scaladoc claims. */
class CurationSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  private lazy val spark = SparkSuite.session

  // q270 persists its bucket-count frame; drop CacheManager entries after
  // every test so plan substitution cannot leak into later tests/suites
  override def afterEach(): Unit = {
    spark.catalog.clearCache()
    super.afterEach()
  }

  test("q57: every flagged doc is a train doc with real benchmark overlap") {
    val rows = Curation.q57Decontaminate(spark, SparkSuite.sf).collect()
    assert(rows.nonEmpty, "fixture must surface at least one contamination")
    rows.foreach { r =>
      val (id, shared, total) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(id % 20 != 7, "benchmark docs must not appear on the train side")
      assert(shared >= 1 && shared <= total)
      assert(math.abs(r.getDouble(3) - shared.toDouble / total) < 1e-15)
    }
  }

  test("q58: fixture docs mostly pass; template spam would trip the threshold") {
    import org.apache.spark.sql.functions.col
    val out = Curation.q58Repetition(spark, SparkSuite.sf)
      .select(col("doc_id"), col("flagged")).collect()
    val flaggedFrac = out.count(_.getBoolean(1)).toDouble / out.length
    assert(flaggedFrac < 0.5, "most fixture docs should pass quality")
    // a doc that is one 4-gram repeated 20x must exceed the top2 threshold
    // the query applies (same arithmetic, computed directly)
    val spam = ("buy now limited offer " * 20).trim
    val g2 = spam.split(" ").sliding(2).map(_.mkString(" ")).toSeq
    val spamTop2 = g2.groupBy(identity).values.map(_.size).max.toDouble / g2.size
    assert(spamTop2 > 0.2, "the planted spam construction must exceed the threshold")
  }

  test("q59: quotas are satisfied exactly and checksums identify the kept set") {
    val rows = Curation.q59DomainMix(spark, SparkSuite.sf).collect()
    rows.foreach { r =>
      val (n, quota, kept) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept === math.min(n, quota),
        s"source ${r.getString(0)}: kept $kept of $n with quota $quota")
      assert(r.getLong(4) > 0, "checksum must reflect a non-empty kept set")
    }
  }

  test("q64: offsets are contiguous per source and chunk spans are consistent") {
    val rows = Curation.q64Packing(spark, SparkSuite.sf).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    rows.groupBy(_._1).foreach { case (_, ds) =>
      val sorted = ds.sortBy(_._2)
      sorted.zip(sorted.tail).foreach { case (prev, next) =>
        assert(prev._4 + prev._3 === next._4,
          "next doc must start where the previous ended")
      }
      sorted.foreach { case (_, _, n, start, first, last, crosses) =>
        assert(first === start / 512)
        assert(last === (start + n - 1) / 512)
        assert(crosses === (first != last))
      }
    }
  }

  test("q65: doc 0 is fully novel; novelty fractions are consistent") {
    val rows = Curation.q65Novelty(spark, SparkSuite.sf).collect()
    val first = rows.find(_.getLong(0) == 0L).get
    assert(first.getLong(1) === first.getLong(2),
      "the first document's grams are all first occurrences")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(math.abs(
        r.getDouble(3) - r.getLong(2).toDouble / r.getLong(1)) < 1e-15)
    }
  }

  test("q166: planted shared 8-gram spans merge into maximal regions") {
    import spark.implicits._
    // docs 1 and 4 share three overlapping 8-grams -> ONE merged span
    // covering tokens 1..10 in each; docs 2 shares one 8-gram at
    // offset 3; doc 3 has no duplicated span at all
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x x a b c d e f g h z1 z2 z3"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      (4L, "a b c d e f g h i j k")).toDF("doc_id", "text")
    val out = Curation.spanDedup(docs, 8).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) === ((10L, 1L, 10L, 1.0)),
      "doc 1: overlapping dup grams merge to one whole-doc span")
    assert(out(2L)._2 === 1L && out(2L)._3 === 8L,
      "doc 2: a single shared 8-gram yields one 8-token span")
    assert(out(3L) === ((10L, 0L, 0L, 0.0)), "doc 3 is clean")
    assert(out(4L)._3 === 10L && math.abs(out(4L)._4 - 10.0 / 11) < 1e-15,
      "doc 4: merged span covers its first 10 of 11 tokens")
  }

  test("q166: within-document repetition alone also counts as duplication") {
    import spark.implicits._
    val rep = ("p q r s t u v w " * 3).trim // the 8-gram repeats inside one doc
    val docs = Seq((7L, rep)).toDF("doc_id", "text")
    val out = Curation.spanDedup(docs, 8).collect()
    assert(out.head.getLong(2) >= 1L,
      "a doc repeating its own 8-gram must be flagged")
    assert(out.head.getLong(3) === 24L,
      "the three repeats chain into one full-width span")
  }

  test("q270 DSIR: target slice excluded, weights descend, and a doc " +
    "cloned from the target outranks the rest") {
    val out = Curation.q270Dsir(spark, SparkSuite.sf).collect()
    assert(out.length === Curation.DsirK)
    // the target exemplar slice is never selected into its own output
    assert(out.forall(_.getLong(0) % 20L !== 7L))
    // orderBy(desc(logw), doc_id) must hold in the materialized rows
    val ws = out.map(_.getDouble(2))
    ws.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    // semantic direction: a raw doc whose text IS the whole target slice
    // concatenated carries pure target mass at maximal length — per-gram
    // contributions are additive, so it must out-weigh every fixture doc.
    // (A single cloned target doc is NOT guaranteed rank 1: weight grows
    // with length, and longer organic docs can beat a short pure clone.)
    val docs = Tables.documents(spark, SparkSuite.sf)
      .select(col("doc_id"), col("text"))
    val targetText = docs.filter(col("doc_id") % 20L === 7L)
      .orderBy(col("doc_id")).collect().map(_.getString(1)).mkString(" ")
    val sp = spark
    import sp.implicits._
    val planted = Seq((100001L, targetText)).toDF("doc_id", "text")
    // the operator contract takes a table directory — drive the planted
    // frame through the same code path via a parquet tempdir
    val dir = Scratch.lasting("graft-dsir").toString
    docs.unionAll(planted).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val scored = Curation.q270Dsir(spark, dir).collect()
    assert(scored.head.getLong(0) === 100001L,
      "the pure-target-profile doc must rank first")
  }
}
