package graft

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The program's one owner of scratch directories; one shutdown hook
  * deletes them all at JVM exit. A [[lasting]] dir lives until then: the
  * [[staged]] copies (stream inputs, federated copies, the q18 bucketed
  * tables, the co-purchase frames) are written to one. A [[perQuery]] dir
  * holds one query construction's own files (q04's warehouse, a stream's
  * sink and checkpoint): [[Sessions.release]] deletes it once the query
  * has run. */
object Scratch {
  /** Live dirs; `true` marks a per-query one. */
  private val live = scala.collection.mutable.LinkedHashMap.empty[File, Boolean]

  /** Staged copies: (name, source file versions) -> dir. */
  private val copies = scala.collection.mutable.HashMap.empty[(String, String), String]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    Scratch.synchronized(live.keys.toList).foreach(delete)))

  def lasting(prefix: String): Path = make(prefix, perQuery = false)

  def perQuery(prefix: String): Path = make(prefix, perQuery = true)

  /** The program's one write-once memo: a scratch copy of data derived
    * from the files under `sources`, written by `write` into a fresh
    * [[lasting]] dir named after `name` and returned. A later call with the
    * same `name` whose sources have the same file version (their
    * [[Tables.fileInventory]]) returns that dir without writing, so a copy
    * that several queries or runs read is fixture prep paid once, not
    * billed to every timing; a source rewritten in place stages afresh
    * instead of replaying a stale copy. A `write` that throws memoizes
    * nothing: the next call retries. Calls are serialized, so one version
    * is written once even when queries are built concurrently. */
  def staged(spark: SparkSession, name: String, sources: Seq[String])(
      write: String => Unit): String = copies.synchronized {
    val key = (name, sources.map(Tables.fileInventory(spark, _)).mkString("|"))
    copies.getOrElse(key, {
      val dir = lasting(name).toString
      write(dir)
      copies(key) = dir
      dir
    })
  }

  private def make(prefix: String, perQuery: Boolean): Path = {
    val dir = Files.createTempDirectory(prefix)
    synchronized(live(dir.toFile) = perQuery)
    dir
  }

  /** Delete every per-query dir made so far. */
  def releaseQueryDirs(): Unit =
    synchronized {
      val done = live.collect { case (d, true) => d }.toList
      live --= done
      done
    }.foreach(delete)

  /** Delete `f` and everything under it. */
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
