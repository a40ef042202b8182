package graft.layout

import graft.SparkTestBase
import graft.layout.LayoutWriter.LayoutSpec
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** Writer census: every table kind the engine writes, and every
  * mutation of an existing table, leaves only the current on-disk shape.
  * Each manifest version carries a `generation` and a `root`, each file
  * entry (inline or in the JSONL sidecar, which serializes the same
  * stamped entries) a `gen` and a positive `bytes`, and each key-index
  * meta a `root`. The census reads the raw JSON, not
  * [[ZoneMap.read]], so it checks the writers, not the reader that
  * refuses any other shape.
  */
class WriterCensusSuite extends SparkTestBase {

  private def files(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    Option(dir.toFile.listFiles).toSeq.flatten.map(_.toPath)
      .filter(_.getFileName.toString.endsWith(".json"))

  private def census(dir: String): Unit = {
    val versions = files(ZoneMap.logDir(dir))
    assert(versions.nonEmpty, s"$dir has no manifest version")
    versions.foreach { v =>
      val j = parse(java.nio.file.Files.readString(v))
      assert((j \ "generation").isInstanceOf[JInt], s"$v has no generation")
      assert((j \ "root").isInstanceOf[JString], s"$v has no root")
      val sidecar = j \ "filesRef" match {
        case JString(ref) =>
          java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir, ref))
            .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty).map(parse(_))
        case _ => Nil
      }
      val entries = (j \ "files").children ++ sidecar
      entries.foreach { e =>
        assert((e \ "gen").isInstanceOf[JInt], s"$v: entry without gen: $e")
        assert(e \ "bytes" match { case JInt(b) => b > 0; case _ => false },
          s"$v: entry without a positive bytes: $e")
      }
    }
    // every index the current version lists: its parts and unions exist
    // in the table's own sidecar dir
    ZoneMap.read(dir).indexes.foreach { case (n, ix) =>
      (ix.parts ++ ix.unions).foreach { p =>
        assert(p.startsWith(s"${ZoneMap.canonical(dir)}/$n/"), s"$dir/$n lists $p")
        assert(new java.io.File(new java.net.URI(p)).exists, s"$dir/$n: $p is missing")
      }
    }
  }

  private def keyed(n: Int) = {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    (1 to n).map(k => (k.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100,
      s"v$k", k % 3, 1L)).toDF("k", "a", "b", "payload", "p", "version")
  }

  test("every LayoutWriter layout, KeyIndex build and each mutation write the current shape") {
    val spark2 = spark
    import spark2.implicits._
    val base = tmpDir("census_layouts")
    val df = keyed(6000)
    val specs = Seq(
      "linear" -> LayoutSpec("linear", Seq("a"), numFiles = Some(4),
        recordKey = Some("k"), precombineCol = Some("version")),
      "zorder" -> LayoutSpec("zorder", Seq("a", "b"), numFiles = Some(4),
        recordKey = Some("k"), precombineCol = Some("version")),
      "hilbert" -> LayoutSpec("hilbert", Seq("a", "b"), numFiles = Some(4),
        recordKey = Some("k"), precombineCol = Some("version")),
      "baseline" -> LayoutSpec("baseline", recordKey = Some("k"),
        precombineCol = Some("version")),
      "hive" -> LayoutSpec("linear", Seq("a"), numFiles = Some(4),
        recordKey = Some("k"), precombineCol = Some("version"), partitionBy = Seq("p")))
    specs.foreach { case (name, spec) =>
      val dir = s"$base/$name"
      LayoutWriter.write(df, dir, spec)
      census(dir)
      // a primary and a secondary key index, then one upsert (each
      // sidecar's update), one keyed delta, a scoped and a whole-table
      // compaction: every StagedRewrite.commit caller on this table
      KeyIndex.build(spark, dir)
      KeyIndex.build(spark, dir, Seq("payload"))
      census(dir)
      graft.table.Upserter.upsert(spark, dir,
        Seq((3L, 1.0, 1.0, "u3", 0, 2L), (99999L, 2.0, 2.0, "new", 1, 1L))
          .toDF("k", "a", "b", "payload", "p", "version"), autoRecluster = false)
      census(dir)
      KeyedDelta(spark, dir, Seq(5L, 6L),
        Some(Seq((100001L, 3.0, 3.0, "d", 2, 1L))
          .toDF("k", "a", "b", "payload", "p", "version")))
      census(dir)
      Compactor.compactWhere(spark, dir, Seq(NumBetween("a", 0.0, 100.0)),
        targetFileBytes = 1L << 16)
      census(dir)
      Compactor.compact(spark, dir)
      census(dir)
      assert(spark.read.parquet(dir).count() == 6000 + 1 - 2 + 1, name)
    }
  }

  test("Curate.run stores, a fold, and SearchIndex build + add write the current shape") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, sf, "documents")
    val m = docs.agg(expr("percentile_approx(doc_id, 0.5)")).collect()(0).getLong(0)
    val q = docs.stat.approxQuantile("doc_id", Array(0.75), 0.0).head.toLong
    val b1 = tmpDir("census_b1"); val b2 = tmpDir("census_b2"); val b3 = tmpDir("census_b3")
    docs.filter(col("doc_id") <= m).write.parquet(s"$b1/documents.parquet")
    docs.filter(col("doc_id") > m && col("doc_id") <= q).write.parquet(s"$b2/documents.parquet")
    docs.filter(col("doc_id") > q).write.parquet(s"$b3/documents.parquet")
    val out = tmpDir("census_curate")
    val stores = Seq("state/docs", "state/components", "state/postings", "docs")
    // the fold log's current version: the build's names no store and
    // stamps none; a fold's names every store, and rolling it forward
    // stamped each store it changed with that version
    def foldLog(built: Boolean): Unit = {
      val log = java.nio.file.Paths.get(out, "state", "_fold_log")
      val v = VersionLog.latest(log, ".json").get
      val named = (parse(java.nio.file.Files.readString(VersionLog.file(log, v, ".json"))) \ "stores")
        .children.map(st => (st \ "store").asInstanceOf[JString].s ->
          ((st \ "removed").children.nonEmpty || (st \ "added").children.nonEmpty))
      if (built) assert(named.isEmpty, s"the build's version names ${named.map(_._1)}")
      else assert(named.map(_._1).toSet == stores.toSet, s"fold log names ${named.map(_._1)}")
      stores.foreach { st =>
        val changed = named.toMap.getOrElse(st, false)
        assert(ZoneMap.read(s"$out/$st").foldVersion.contains(v) == changed,
          s"$st: stamp ${ZoneMap.read(s"$out/$st").foldVersion}, fold-log version $v")
      }
    }
    graft.cli.Curate.run(spark, b1, out, 100L, forcePostings = true)
    stores.foreach(s => census(s"$out/$s"))
    foldLog(built = true)
    graft.cli.Curate.runAdd(spark, b2, out, 100L)
    stores.foreach(s => census(s"$out/$s"))
    foldLog(built = false)
    // a forced whole-mapping relabel (the distributed star-round route
    // with no room for changed labels)
    val relabel = Seq("graft.curate.localBatchRowLimit", "graft.curate.edgeCollectLimit",
      "graft.curate.changedLimit")
    relabel.foreach(sys.props(_) = "0")
    try graft.cli.Curate.runAdd(spark, b3, out, 100L)
    finally relabel.foreach(sys.props.remove)
    stores.foreach(s => census(s"$out/$s"))
    foldLog(built = false)

    val idx = tmpDir("census_search")
    graft.operators.SearchIndex.build(docs.filter(col("doc_id") <= m),
      "doc_id", "text", idx, numFiles = 4)
    census(s"$idx/postings")
    graft.operators.SearchIndex.add(spark, docs.filter(col("doc_id") > m),
      "doc_id", "text", idx)
    census(s"$idx/postings")
  }
}
