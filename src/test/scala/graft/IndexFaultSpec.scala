package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.llm._
import graft.model.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Crash and fault injection for the write protocol every persisted index
 * shares ([[graft.llm.IndexLifecycle]]): build, staged rebuild and
 * compaction are interrupted after each step — each table write, each
 * stamp, each table's swap, between the swap phases and after the
 * manifest — and the readers must see the old version or fail loudly.
 *
 *  - A CRASH stops the writer dead: the spec copies the index directory
 *    as each step left it and reads every copy.
 *  - A FAULT throws from the step, so the protocol's own handlers
 *    (staging cleanup, swap rollback, lease release) run first.
 *
 * The manifest write is the commit point: it must be the last step, no
 * copy taken before it may read the new version, and the copy taken at
 * it must read exactly the new one. A staged rebuild must keep serving
 * the old version until its swap begins.
 */
class IndexFaultSpec extends SparkSpec {
  import IndexFaultSpec._
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private lazy val vectors = Tables.embeddings(spark, sfDir)
    .filter(col("vec_id") < 80)

  private val lifecycles = Seq(
    Lifecycle("DedupIndex",
      DedupIndex.build(docs(1L -> "alpha beta gamma delta epsilon",
        2L -> "one two three four five six"), _),
      DedupIndex.build(docs(1L -> "totally novel content here now",
        5L -> "one two three four five six"), _),
      staged = false, Some(DedupIndex.compact(spark, _)),
      d => sorted(DedupIndex.probe(docs(3L -> "alpha beta gamma delta epsilon",
        4L -> "totally novel content here now"), d))),
    Lifecycle("DeconIndex",
      DeconIndex.build(
        docs(1L -> "the quick brown fox jumps over the lazy dog"), _, n = 3),
      DeconIndex.build(
        docs(2L -> "completely unrelated training text rows here"), _, n = 3),
      staged = false, Some(DeconIndex.compact(spark, _)),
      d => {
        val corpus = docs(10L -> "the quick brown fox jumps over the lazy dog",
          11L -> "completely unrelated training text rows here")
        sorted(DeconIndex.probe(corpus, d)) ++
          sorted(DeconIndex.overlap(corpus, d)) ++
          sorted(DeconIndex.probeWinnow(corpus, d, minShared = 1L))
      }),
    Lifecycle("IvfIndex",
      IvfIndex.buildPq(vectors, _, nCells = 4, iters = 1),
      IvfIndex.rebuild(spark, _, nCells = 3, iters = 1),
      staged = true, Some(IvfIndex.compact(spark, _)),
      d => {
        val queries = vectors.filter(col("vec_id") < 4)
        sorted(IvfIndex.search(queries, d, k = 3, nprobe = 1)) ++
          sorted(IvfIndex.searchPq(queries, d, k = 3, nprobe = 1))
      }),
    Lifecycle("BpeIndex",
      BpeIndex.build(docs(1L -> "low lower lowest low low",
        2L -> "new newer newest new"), _, k = 6),
      BpeIndex.rebuild(docs(1L -> "wide wider widest",
        2L -> "ab ab b cd cd"), _, k = 6),
      staged = true, None,
      d => BpeIndex.load(spark, d).map(_.toString)),
    Lifecycle("UnigramIndex",
      UnigramIndex.build(docs(1L -> "banana band banana",
        2L -> "ababab cab"), _),
      UnigramIndex.rebuild(docs(1L -> "queue quiz quartz",
        2L -> "squid quorum"), _),
      staged = true, None,
      d => Seq(UnigramIndex.loadModel(spark, d).toString)),
    Lifecycle("DsirIndex",
      DsirIndex.build(docs(1L -> "alpha beta gamma delta",
          2L -> "one two three", 3L -> "alpha one beta two"),
        docs(100L -> "alpha beta gamma delta"), _, buckets = 64),
      DsirIndex.build(docs(1L -> "alpha beta gamma delta",
          2L -> "one two three", 3L -> "alpha one beta two"),
        docs(101L -> "one two three four"), _, buckets = 64),
      staged = false, None,
      d => sorted(DsirIndex.score(spark, d,
        docs(7L -> "alpha beta something", 8L -> "one two other")))),
    Lifecycle("ClassifierIndex",
      ClassifierIndex.build(docs(
        1L -> "a long and carefully written paragraph of text", 2L -> "!!",
        3L -> "another reasonably long and wordy document here"), _),
      ClassifierIndex.build(docs(
        1L -> "a long and carefully written paragraph of text", 2L -> "!!",
        3L -> "another reasonably long and wordy document here"), _,
        thresholdPermille = 300L),
      staged = false, None,
      d => sorted(ClassifierIndex.score(spark, d,
        docs(7L -> "a carefully written paragraph", 8L -> "%%")))))

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def copyOf(dir: String): String = {
    val to = Paths.get(fresh("idx_copy"), "index")
    copyTree(Paths.get(dir), to)
    to.toString
  }

  /** Runs `protocol` on `dir`, copying the directory after every step:
    * the crash images, as (step, copy). */
  private def crashImages(dir: String)(
      protocol: => Unit): Seq[(String, String)] = {
    val root = Paths.get(fresh("idx_crash"))
    val images = ArrayBuffer.empty[(String, String)]
    IndexLifecycle.stepHook.withValue { step =>
      val img = root.resolve(images.size.toString)
      copyTree(Paths.get(dir), img)
      images += step -> img.toString
    }(protocol)
    images.toSeq
  }

  /** The reader's answer, or None when it fails loudly. */
  private def attempt(read: => Seq[String]): Option[Seq[String]] =
    try Some(read) catch { case NonFatal(_) => None }

  /** Every crash image of a version change: before the manifest, the old
    * version or a loud failure (the first `servingOld` images: the old
    * version only); at the manifest, which must be the last step, exactly
    * the new version. */
  private def checkImages(c: Lifecycle, images: Seq[(String, String)],
      old: Option[Seq[String]], neu: Seq[String], servingOld: Int): Unit = {
    val steps = images.map(_._1)
    assert(steps.lastOption.contains("manifest") &&
      steps.count(_ == "manifest") == 1,
      s"${c.name}: the manifest must be written once, last: $steps")
    assert(steps.exists(_.startsWith("write ")) &&
      steps.exists(_.startsWith("stamp ")), s"${c.name}: $steps")
    images.init.zipWithIndex.foreach { case ((step, img), i) =>
      val got = attempt(c.read(img))
      if (i < servingOld)
        assert(got == old, s"${c.name}: after '$step' the old version " +
          s"must still serve, got $got")
      else
        assert(got.isEmpty || got == old, s"${c.name}: after '$step' " +
          s"readers saw neither the old version nor a loud failure: $got")
    }
    assert(attempt(c.read(images.last._2)).contains(neu),
      s"${c.name}: the manifest is the commit point")
  }

  private lazy val built: Map[String, (String, Seq[String])] =
    lifecycles.map { c =>
      val d = fresh(s"idx_${c.name}")
      c.build(d)
      c.name -> (d, c.read(d))
    }.toMap

  for (c <- lifecycles) {
    test(s"${c.name}: a crash after any build step fails loudly until the " +
        "manifest lands") {
      val dir = Paths.get(fresh("idx_build"), "index").toString
      val images = crashImages(dir)(c.build(dir))
      checkImages(c, images, None, c.read(dir), servingOld = 0)
    }

    val replace = if (c.staged) "staged rebuild" else "build over it"
    test(s"${c.name}: a crash after any step of a $replace reads the old " +
        "version or fails loudly") {
      val (v1, old) = built(c.name)
      val dir = copyOf(v1)
      val images = crashImages(dir)(c.replace(dir))
      val neu = c.read(dir)
      // a staged rebuild has not touched a live table before its swap
      checkImages(c, images, Some(old), neu, servingOld =
        if (c.staged) images.indexWhere(_._1.startsWith("swap")) else 0)
      assert(!WriterLease.status(spark, dir).present)
    }

    if (c.staged) test(s"${c.name}: a fault after any rebuild step leaves " +
        "the old version, or a loud index that a rerun repairs") {
      val (v1, old) = built(c.name)
      val probe = copyOf(v1)
      val steps = crashImages(probe)(c.replace(probe)).map(_._1)
      val neu = c.read(probe)
      steps.indices.foreach { k =>
        val dir = copyOf(v1)
        var n = -1
        val e = intercept[InjectedFault] {
          IndexLifecycle.stepHook.withValue { step =>
            n += 1
            if (n == k) throw new InjectedFault(step)
          }(c.replace(dir))
        }
        assert(!WriterLease.status(spark, dir).present,
          s"${c.name}: the lease outlived a fault after '${e.step}'")
        val got = attempt(c.read(dir))
        e.step match {
          case "manifest" => assert(got.contains(neu), e.step)
          case "swapped" =>
            // every table is live on the new version, the manifest is not
            assert(got.isEmpty, s"${c.name}: a torn swap served $got")
            c.replace(dir)
            assert(c.read(dir) == neu, s"${c.name}: rerun did not repair")
          case s =>
            // staged tables are cleaned before the swap, rolled back in it
            assert(got.contains(old), s"${c.name}: after a fault at '$s' " +
              s"the old version must serve, got $got")
            if (!s.startsWith("swap"))
              assert(!new java.io.File(dir).list().exists(
                _.endsWith(StagedSwap.TmpSuffix)), s"${c.name}: staging left")
        }
      }
    }

    c.compact.foreach { compact =>
      test(s"${c.name}: a crash after any compaction step reads the old " +
          "version or fails loudly") {
        val (v1, old) = built(c.name)
        val dir = copyOf(v1)
        val images = crashImages(dir)(compact(dir))
        assert(images.exists(_._1.startsWith("compact ")) &&
          images.last._1.startsWith("stamp "), images.map(_._1))
        images.foreach { case (step, img) =>
          val got = attempt(c.read(img))
          assert(got.isEmpty || got.contains(old),
            s"${c.name}: after '$step' readers saw a different version: $got")
        }
        assert(c.read(dir) == old)
      }
    }
  }
}

private object IndexFaultSpec {

  /** One persisted index: how to build its first version, how to replace
    * it by a second (a staged rebuild, or a build over it), an optional
    * compaction, and a reader that touches every table. */
  final case class Lifecycle(name: String,
      build: String => Unit, replace: String => Unit, staged: Boolean,
      compact: Option[String => Unit], read: String => Seq[String])

  final class InjectedFault(val step: String)
      extends RuntimeException(s"injected fault after '$step'")
}
