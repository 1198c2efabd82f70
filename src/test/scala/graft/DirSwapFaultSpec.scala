package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.pipeline.{Bucketed, DatePartition, DirSwap, Maintenance}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Crash and fault injection for the directory swap every layout rewrite
 * shares ([[graft.pipeline.DirSwap]]), as [[IndexFaultSpec]] does for the
 * index lifecycles: each compaction is interrupted after every protocol
 * step (the staged write, the swap of its path, the end of the swap).
 *
 *  - A CRASH stops the writer dead: the spec copies the workspace (the
 *    table and the staging and old-copy holders beside it) as each step
 *    left it. A compaction changes layout, not rows, so every copy must
 *    read exactly the table's rows, with no partition doubled or missing,
 *    or fail loudly; and the same compaction rerun on the copy (it
 *    recovers first) must end with the new layout and the same rows.
 *  - The instant between a path's two renames is not a step: its copy is
 *    built by hand from the staged one and checked after the rerun only.
 *    A day partition reads as missing there until recovery restores it,
 *    the window the DirSwap scaladoc names.
 *  - A FAULT throws from the step, so the swap's own rollback runs: the
 *    table must read the same rows and a rerun must finish the job.
 */
class DirSwapFaultSpec extends SparkSpec {
  import DirSwapFaultSpec._
  import spark.implicits._

  private val day0 = 1705190400000L // 2024-01-14T00:00Z

  private def rows(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, s"v$i")).toDF("k", "v")

  private def files(dir: String): Int = Maintenance.dataFiles(spark, dir).size

  private def dirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getPath)

  private var tables = 0

  private def tableName(): String = { tables += 1; s"swap_fault_bkt_$tables" }

  /** A catalog entry for the bucketed table at `dir`: each crash copy
    * needs its own. */
  private def bucketedTable(dir: String): String = {
    val name = tableName()
    spark.sql(s"CREATE TABLE $name (k BIGINT, v STRING) USING parquet " +
      s"CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS LOCATION '$dir'")
    name
  }

  private val cases = Seq(
    Case("compactPartition",
      t => DatePartition.appendPartitioned(rows(24).withColumn(
        "clientTimestamp", lit(day0) + col("k") % 3 * 86400000L)
        .repartition(4), t),
      Maintenance.compactPartition(spark, _, "2024", "01", "15"),
      t => s"$t/year=2024/month=01/day=15",
      t => {
        assert(files(s"$t/year=2024/month=01/day=15") == 1)
        assert(files(s"$t/year=2024/month=01/day=14") > 1)
      }),
    Case("compactDir",
      rows(24).repartition(4).write.parquet(_),
      Maintenance.compactDir(spark, _),
      identity,
      t => assert(files(t) == 1)),
    Case("compactHivePartitioned",
      rows(24).withColumn("cell", col("k") % 3).repartition(4)
        .write.partitionBy("cell").parquet(_),
      Maintenance.compactHivePartitioned(spark, _, "cell"),
      identity,
      t => assert(dirs(t).size == 3 && dirs(t).forall(files(_) == 1))),
    Case("Bucketed.compact",
      t => {
        val name = tableName()
        Bucketed.write(rows(24), name, t, "k", 4)
        Bucketed.append(rows(24), name, "k", 4)
      },
      // register a copy's catalog entry only once recovery has put its
      // table root back
      t => {
        Maintenance.recoverCompaction(spark, t)
        val name = bucketedTable(t)
        try Bucketed.compact(spark, name)
        finally spark.sql(s"DROP TABLE $name")
      },
      identity,
      t => assert(files(t) == 4 && Bucketed.isBucketedDir(spark, t))))

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A copy of workspace `ws`; returns the copy's table path. */
  private def copyOf(ws: String): String = {
    val to = Paths.get(fresh("swap_copy"), "ws")
    copyTree(Paths.get(ws), to)
    s"$to/t"
  }

  /** The table's rows (sorted, partition columns included), or None when
    * the reader fails loudly. */
  private def read(t: String): Option[Seq[String]] =
    try Some(spark.read.parquet(t).collect().map(_.toString).toSeq.sorted)
    catch { case NonFatal(_) => None }

  /** Reruns the compaction on the table at `t`: it must end with the new
    * layout, the same rows and no staged or old copy. */
  private def checkRerun(c: Case, what: String, t: String,
      want: Seq[String]): Unit = {
    c.compact(t)
    assert(read(t).contains(want), s"${c.name}: rerun after $what changed rows")
    c.layout(t)
    for (p <- Seq(DirSwap.staged(c.live(t)), DirSwap.old(c.live(t))))
      assert(!new java.io.File(p).getParentFile.exists,
        s"${c.name}: $p's holder left after $what")
  }

  /** The row count first, so a doubled or missing partition reads as
    * such. */
  private def sameRows(c: Case, what: String, got: Seq[String],
      want: Seq[String]): Unit = {
    val n = got.size
    assert(n == want.size,
      s"${c.name}: after $what readers saw $n rows, not ${want.size}")
    assert(got == want, s"${c.name}: after $what readers saw other rows")
  }

  for (c <- cases) {
    lazy val (ws, want) = {
      val ws = fresh(s"swap_${c.name}")
      c.setup(s"$ws/t")
      (ws, read(s"$ws/t").get)
    }

    test(s"${c.name}: a crash after any swap step reads the table's rows " +
        "or fails loudly, and a rerun finishes the compaction") {
      val src = Paths.get(copyOf(ws)).getParent
      val t = s"$src/t"
      val root = Paths.get(fresh("swap_crash"))
      val images = ArrayBuffer.empty[(String, String)]
      DirSwap.stepHook.withValue { step =>
        val img = root.resolve(images.size.toString)
        copyTree(src, img)
        images += step -> s"$img/t"
      }(c.compact(t))
      val name = new HPath(c.live(t)).getName
      assert(images.map(_._1) == Seq(s"stage $name", s"swap $name", "swapped"),
        s"${c.name}: ${images.map(_._1)}")
      c.layout(t)
      assert(read(t).contains(want))
      // between the renames: the live copy already moved to its old path
      val torn = copyOf(new java.io.File(images.head._2).getParent)
      val old = new java.io.File(DirSwap.old(c.live(torn)))
      assert(old.getParentFile.mkdirs() &&
        new java.io.File(c.live(torn)).renameTo(old))
      checkRerun(c, "a crash between the renames", torn, want)
      images.foreach { case (step, img) =>
        read(img).foreach(sameRows(c, s"'$step'", _, want))
        checkRerun(c, s"a crash after '$step'", img, want)
      }
    }

    test(s"${c.name}: a fault after any swap step leaves the table's rows, " +
        "and a rerun finishes the compaction") {
      val name = new HPath(c.live(s"$ws/t")).getName
      Seq(s"stage $name", s"swap $name", "swapped").foreach { at =>
        val t = copyOf(ws)
        val e = intercept[InjectedFault] {
          DirSwap.stepHook.withValue { step =>
            if (step == at) throw new InjectedFault(step)
          }(c.compact(t))
        }
        assert(e.step == at)
        sameRows(c, s"a fault at '$at'", read(t).getOrElse(Nil), want)
        checkRerun(c, s"a fault at '$at'", t, want)
      }
    }
  }
}

private object DirSwapFaultSpec {

  /** One layout rewrite, each function given the table path: how to lay
    * the table out, the compaction, the path it swaps, and the new
    * layout's file-count check. */
  final case class Case(name: String, setup: String => Unit,
      compact: String => Unit, live: String => String,
      layout: String => Unit)

  final class InjectedFault(val step: String)
      extends RuntimeException(s"injected fault after '$step'")
}
