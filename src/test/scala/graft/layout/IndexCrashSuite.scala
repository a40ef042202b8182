package graft.layout

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.layout.LayoutWriter.LayoutSpec
import graft.table.Upserter
import org.apache.spark.sql.functions._

/** Every mutation of a keyed table with key indexes publishes its data
  * and its index parts in one manifest version, so a crash after any of
  * its commit steps ([[StagedRewrite.testHookAtStep]]) leaves the table
  * readable, at a generation no lower than before, holding exactly the
  * pre- or the post-commit rows, with every listed part present and each
  * index returning every file that truly holds a probed key — and
  * pruning the files that hold none. The next mutation converges.
  */
class IndexCrashSuite extends SparkTestBase {

  private val Secondary = Seq("h")

  private def rowsOf(ks: Seq[Long]) = {
    val spark2 = spark
    import spark2.implicits._
    ks.map(k => (k, s"v$k", s"h${k % 97}", 1L)).toDF("k", "payload", "h", "version")
  }

  /** An 8-file linear keyed table with a primary and a secondary index. */
  private lazy val template: String = {
    val dir = tmpDir("ic_template") + "/t"
    LayoutWriter.write(rowsOf(1L to 800L), dir, LayoutSpec("linear", Seq("k"),
      numFiles = Some(8), recordKey = Some("k"), precombineCol = Some("version")))
    KeyIndex.build(spark, dir)
    KeyIndex.build(spark, dir, Secondary)
    dir
  }

  private def copy(from: String): String = {
    val to = Paths.get(tmpDir("ic_copy"), "t")
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = to.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    to.toString
  }

  private def withHook[T](hook: String => Unit)(body: => T): T = {
    StagedRewrite.testHookAtStep = hook
    try body finally StagedRewrite.testHookAtStep = _ => ()
  }

  /** The rows the manifest lists, as (k, payload). */
  private def rows(dir: String): Set[(Long, String)] = {
    val m = ZoneMap.read(dir)
    StagedRewrite.readFiles(spark, dir, m.files.map(_.path), partitioned = false)
      .select("k", "payload").collect().map(r => (r.getLong(0), r.getString(1))).toSet
  }

  private def batch(kvs: (Long, String)*) = {
    val spark2 = spark
    import spark2.implicits._
    kvs.map { case (k, p) => (k, p, s"h${k % 97}", 2L) }.toDF("k", "payload", "h", "version")
  }

  private val mutations: Seq[(String, String => Any)] = Seq(
    "upsert" -> (d => Upserter.upsert(spark, d, batch(5L -> "u5", 700L -> "u700", 5000L -> "n5000"),
      autoRecluster = false)),
    "compactWhere" -> (d => Compactor.compactWhere(spark, d, Seq(NumBetween("k", 0, 400)),
      targetFileBytes = 1L << 30)),
    "compact" -> (d => Compactor.compact(spark, d, targetFileBytes = 1L << 30)),
    "build" -> (d => KeyIndex.build(spark, d)),
    "gc" -> (d => KeyIndex.gc(spark, d, ZoneMap.read(d), KeyIndex.indexName(Secondary))))

  /** Each index the manifest lists: every part present, every probed
    * value's files returned, an absent value's pruned.
    */
  private def indexHolds(dir: String, when: String): Unit = {
    val m = ZoneMap.read(dir)
    assert(m.indexes.keySet == Set(KeyIndex.DirName, KeyIndex.indexName(Secondary)), when)
    m.indexes.values.foreach(ix => (ix.parts ++ ix.unions).foreach(p =>
      assert(Files.exists(Paths.get(new java.net.URI(p))), s"$when: listed $p is missing")))
    val held = StagedRewrite.readFiles(spark, dir, m.files.map(_.path), partitioned = false)
      .select(col("k"), xxhash64(col("k")), xxhash64(col("h")), input_file_name()).collect()
    for ((cols, hashAt) <- Seq(Nil -> 1, Secondary -> 2)) {
      for (k <- Seq(1L, 5L, 400L, 700L, 800L, 5000L); r <- held.find(_.getLong(0) == k)) {
        val truth = held.filter(_.getLong(hashAt) == r.getLong(hashAt))
          .map(x => KeyIndex.norm(x.getString(3))).toSet
        val got = KeyIndex.affectedPaths(spark, dir, Seq(r.getLong(hashAt)), m, cols).get
        assert(truth.subsetOf(got), s"$when: index $cols misses ${truth -- got} for key $k")
      }
      val absent = spark.range(1).select(xxhash64(if (cols.isEmpty) lit(999999L) else lit("none")))
        .head().getLong(0)
      assert(KeyIndex.affectedPaths(spark, dir, Seq(absent), m, cols).get.size <= 1,
        s"$when: index $cols must prune the files holding no probed key")
    }
  }

  for ((name, mutate) <- mutations)
    test(s"$name: a crash after any commit step reads pre or post, converges, " +
        "and each index covers and prunes") {
      val clean = copy(template)
      val pre = rows(clean)
      val preGen = ZoneMap.read(clean).generation.get
      val steps = scala.collection.mutable.ArrayBuffer.empty[String]
      withHook(steps += _)(mutate(clean))
      val post = rows(clean)
      indexHolds(clean, s"$name, uncrashed")
      assert(steps == Seq("parts staged", "CAS",
        if (Seq("build", "gc").contains(name)) "replaced parts deleted" else "replaced data deleted"),
        steps.mkString(", "))
      for (step <- steps) {
        val d = copy(template)
        intercept[IllegalStateException](withHook { s =>
          if (s == step) throw new IllegalStateException(s"simulated crash after $s")
        }(mutate(d)))
        val when = s"$name, crash after $step"
        val gen = ZoneMap.read(d).generation.get
        assert(gen >= preGen, when)
        val got = rows(d)
        assert(got == (if (step == "parts staged") pre else post), when)
        indexHolds(d, when)
        // the next mutation converges: its entry reconcile leaves the dir
        // holding exactly the manifest's files
        Upserter.upsert(spark, d, batch(6L -> "n6"), autoRecluster = false)
        assert(ZoneMap.read(d).generation.get > gen, when)
        assert(rows(d) == got.filterNot(_._1 == 6L) + (6L -> "n6"), when)
        assert(spark.read.parquet(d).count() == got.size, s"$when: an orphan is read")
        indexHolds(d, s"$when, then an upsert")
      }
    }
}
