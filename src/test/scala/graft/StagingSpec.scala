package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CoPurchase, Federated, decSum}

/** [[Scratch.staged]] writes a fixture-derived copy once per version of
  * its sources. Each consumer test rewrites a fixture in place, in a
  * scratch copy of the sf0.001 fixtures, after the copy was staged, and
  * requires the consumer to see the new rows. */
class StagingSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  /** A writable copy of the sf0.001 fixtures. */
  private def fixtureCopy(): String = {
    val dir = Scratch.lasting("graft-staging-spec")
    new java.io.File(SparkSuite.sf).listFiles().foreach(f =>
      Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  /** Replace `<name>.parquet` under `sfDir` with `f` of its rows, written
    * more than a second after the last read, so the file's mtime moves at
    * any file-system granularity. */
  private def rewrite(sfDir: String, name: String)(
      f: DataFrame => DataFrame): Unit = {
    Thread.sleep(1100)
    val out = s"${Scratch.lasting("graft-staging-rewrite")}/out"
    f(Tables.parquet(spark, s"$sfDir/$name.parquet")).coalesce(1)
      .write.parquet(out)
    val part = new java.io.File(out).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$sfDir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

  test("staged: one write per source version, a changed version restages, " +
    "a write that throws is retried") {
    val src = Scratch.lasting("graft-staging-src")
    val file = src.resolve("v")
    Files.writeString(file, "1")
    var writes = 0
    def stage(): String =
      Scratch.staged(spark, "graft-staging-copy", Seq(src.toString)) { dir =>
        writes += 1
        Files.copy(file, Paths.get(dir, "copy"))
      }
    def copied(dir: String) = Files.readString(Paths.get(dir, "copy"))
    val first = stage()
    assert(stage() === first && writes === 1)
    Thread.sleep(1100)
    Files.writeString(file, "22")
    val second = stage()
    assert(second != first && writes === 2 && copied(second) === "22")
    assert(stage() === second && writes === 2)
    Thread.sleep(1100)
    Files.writeString(file, "333")
    intercept[IllegalStateException] {
      Scratch.staged(spark, "graft-staging-copy", Seq(src.toString)) { _ =>
        writes += 1
        throw new IllegalStateException("write failed")
      }
    }
    val third = stage()
    assert(writes === 4 && copied(third) === "333")
    assert(stage() === third && writes === 4)
  }

  test("q127's orc, csv and json legs follow an in-place rewrite of orders") {
    val sf = fixtureCopy()
    def legs(): Map[String, Set[Row]] =
      Federated.q127Federated(spark, sf).collect().toSeq
        .groupBy(_.getAs[String]("fmt"))
        .map { case (fmt, rows) =>
          fmt -> rows.map(r => Row(r.get(1), r.get(2), r.get(3))).toSet }
    val before = legs()
    assert(before.values.toSet.size === 1, s"legs disagree: $before")
    rewrite(sf, "orders")(_.filter(col("o_orderkey") % 3 =!= 0))
    val after = legs()
    assert(after.keySet === Set("csv", "json", "orc", "parquet"))
    assert(after.values.toSet.size === 1, s"legs disagree: $after")
    assert(after("parquet") !== before("parquet"))
  }

  test("CoPurchase.pairs follows an in-place rewrite of lineitem") {
    val sf = fixtureCopy()
    CoPurchase.materialize(spark, sf)
    rewrite(sf, "lineitem")(_.filter(col("l_orderkey") % 2 === 0))
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val rebuilt = items.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("pb")),
        Seq("l_orderkey"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_shared"))
    assert(rebuilt.count() > 0)
    sameRows(CoPurchase.pairs(spark, sf), rebuilt)
  }

  test("q18 follows an in-place rewrite of orders and lineitem") {
    val sf = fixtureCopy()
    assert(sources.Bucketing.q18JoinBucketed(spark, sf).count() > 0)
    rewrite(sf, "orders")(_.filter(col("o_orderkey") % 3 =!= 0))
    rewrite(sf, "lineitem")(_.filter(col("l_linenumber") =!= 1))
    val plain = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("line_count"))
      .orderBy(col("o_orderpriority"), col("l_returnflag"))
    assert(sources.Bucketing.q18JoinBucketed(spark, sf).collect() ===
      plain.collect())
  }
}
