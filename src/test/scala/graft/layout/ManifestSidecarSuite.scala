package graft.layout

import org.scalatest.funsuite.AnyFunSuite

/** JSONL files-section sidecar + read cache (round-18 manifest scale
  * audit): above [[ZoneMap.sidecarThreshold]] entries the manifest
  * header keeps `files` empty on disk and streams entries to a compact
  * `_graft_manifest_files.g<gen>.jsonl`; reads attach it transparently
  * and cache by the header's (FileTime, size). results/manifest_scale
  * .json carries the measured latency story at 10⁴–10⁶ entries.
  */
class ManifestSidecarSuite extends AnyFunSuite {

  private def entry(i: Int, root: String): FileEntry = FileEntry(
    s"$root/part-$i.parquet", rows = 100L + i,
    ranges = Map("a" -> ColRange(Some(i.toDouble), Some(i + 1.0), None, None,
      allNull = false)),
    bytes = Some(1000L * i))

  private def manifest(n: Int, root: String): TableManifest = TableManifest(
    "linear", Seq("a"), 20, Seq("a"), None, None,
    (0 until n).map(entry(_, root)))

  private def withThreshold[A](t: Int)(body: => A): A = {
    sys.props("graft.manifest.sidecarThreshold") = t.toString
    try body finally sys.props.remove("graft.manifest.sidecarThreshold")
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_sidecar").toString

  private def headerJson(dir: String): String = new String(
    java.nio.file.Files.readAllBytes(ZoneMap.currentVersionFile(dir).get), "UTF-8")

  private def sidecars(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq
      .filter(_.startsWith("_graft_manifest_files."))

  test("sidecar round-trip: header stays small, read attaches entries, prune works") {
    withThreshold(5) {
      val dir = tmp()
      val written = ZoneMap.write(dir, manifest(10, dir))
      // the RETURNED manifest keeps full files in memory
      assert(written.files.length == 10 && written.filesRef.isEmpty)
      // on disk: empty files array, filesRef set, one gen-1 sidecar
      val hj = headerJson(dir)
      assert(hj.contains("\"filesRef\""), hj.takeRight(200))
      assert(!hj.contains("part-3.parquet"), "entries must not be in the header")
      // unique per commit: gen prefix + random suffix (r18 ADVICE #1 —
      // a deterministic name lets two racing writers pair a gen-N
      // header with the OTHER writer's gen-N sidecar)
      assert(sidecars(dir).length == 1 &&
        sidecars(dir).head.matches("_graft_manifest_files\\.g1-[0-9a-f]{8}\\.jsonl"),
        sidecars(dir).toString)
      val r = ZoneMap.read(dir)
      assert(r.files == written.files)
      assert(r.generation.contains(1L))
      assert(r.prune(Seq(NumBetween("a", 3.5, 4.5))).map(_.path)
        == Seq(s"$dir/part-3.parquet", s"$dir/part-4.parquet"))
    }
  }

  test("sidecar GC by header reference keeps the replaced header's sidecar") {
    withThreshold(5) {
      val dir = tmp()
      val m1 = ZoneMap.write(dir, manifest(10, dir))
      val m2 = ZoneMap.write(dir, m1) // gen 2
      val m3 = ZoneMap.write(dir, m2) // gen 3
      // the REPLACED header's sidecar survives (a concurrent reader of
      // the gen-2 header must still find it); older ones are GCed
      val s3 = sidecars(dir)
      assert(s3.length == 2 && s3.exists(_.startsWith("_graft_manifest_files.g2-"))
        && s3.exists(_.startsWith("_graft_manifest_files.g3-")), s3.toString)
      assert(ZoneMap.read(dir).files == m3.files)
      // drop to 2 entries: inline format; the prior sidecar lingers one
      // more commit for the same concurrent-reader window
      val small = ZoneMap.write(dir, m3.copy(files = m3.files.take(2))) // gen 4
      assert(sidecars(dir).length == 1 &&
        sidecars(dir).head.startsWith("_graft_manifest_files.g3-"))
      assert(headerJson(dir).contains("part-1.parquet"))
      assert(ZoneMap.read(dir).files == small.files)
      ZoneMap.write(dir, small) // gen 5: header 4 references no sidecar
      assert(sidecars(dir).isEmpty)
    }
  }

  test("crashed writer's orphaned sidecar is GCed, never paired with a header") {
    withThreshold(5) {
      val dir = tmp()
      val m1 = ZoneMap.write(dir, manifest(10, dir)) // gen 1, sidecar A
      val refA = sidecars(dir).head
      // a writer that died between sidecar move and header move leaves
      // an orphan with the NEXT gen's prefix — under the old
      // deterministic naming the next commit would REUSE this exact
      // name; now it is unique garbage the next commit sweeps
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "_graft_manifest_files.g2-deadbeef.jsonl"),
        "{\"path\":\"/stale\",\"rows\":1,\"ranges\":{}}\n")
      val m2 = ZoneMap.write(dir, m1) // gen 2, sidecar B
      val after = sidecars(dir)
      assert(!after.contains("_graft_manifest_files.g2-deadbeef.jsonl"),
        s"orphan must be GCed: $after")
      assert(after.contains(refA), s"replaced header's sidecar must survive: $after")
      assert(ZoneMap.read(dir).files == m2.files)
    }
  }

  test("read cache: repeat reads reuse the parse, a new commit invalidates") {
    val dir = tmp()
    val m1 = ZoneMap.write(dir, manifest(3, dir))
    val r1 = ZoneMap.read(dir)
    val r2 = ZoneMap.read(dir)
    assert(r1 eq r2, "unchanged header must serve the cached parse")
    val m2 = ZoneMap.write(dir, m1.copy(files = m1.files.take(1)))
    val r3 = ZoneMap.read(dir)
    assert(r3.files.length == 1 && r3.generation.contains(2L),
      s"commit must invalidate the cache: $r3")
    assert(ZoneMap.read(dir) eq r3)
  }

  private def withStreaming[A](body: => A): A = {
    sys.props("graft.manifest.streamBytes") = "1" // any sidecar streams
    try body finally sys.props.remove("graft.manifest.streamBytes")
  }

  test("pruneRead streams large sidecars: survivors + totals, no materialization") {
    withThreshold(5) {
      withStreaming {
        val dir = tmp()
        ZoneMap.write(dir, manifest(50, dir))
        ZoneMap.clearReadCache()
        val preds = Seq(NumBetween("a", 10.5, 12.5))
        val v = ZoneMap.pruneRead(dir, preds)
        assert(v.manifest.files.isEmpty, "streamed view must keep the header empty")
        assert(v.filesTotal == 50)
        assert(v.rowsTotal == (0 until 50).map(100L + _).sum)
        val full = ZoneMap.read(dir)
        assert(v.kept == full.prune(preds))
        assert(v.kept.map(_.path) == Seq(s"$dir/part-10.parquet",
          s"$dir/part-11.parquet", s"$dir/part-12.parquet"))
        assert(v.bytesTotal == full.files.flatMap(_.bytes).sum)
        // with the full manifest now cached, pruneRead short-circuits to
        // the in-memory path (same survivors, manifest attached)
        val v2 = ZoneMap.pruneRead(dir, preds)
        assert(v2.kept == v.kept && v2.manifest.files.nonEmpty)
      }
    }
  }

  test("pruneRead streamed: relocation rebases survivor paths") {
    withThreshold(5) {
      withStreaming {
        val dir = tmp()
        ZoneMap.write(dir, manifest(20, dir))
        val moved = dir + "_mv"
        java.nio.file.Files.move(java.nio.file.Paths.get(dir),
          java.nio.file.Paths.get(moved))
        ZoneMap.clearReadCache()
        val v = ZoneMap.pruneRead(moved, Seq(NumBetween("a", 3.5, 4.5)))
        assert(v.kept.length == 2 && v.kept.forall(_.path.contains(moved + "/")),
          v.kept.map(_.path).toString)
        assert(v.manifest.root.contains(ZoneMap.canonical(moved)))
      }
    }
  }

  test("parseEntryLine: parity with the reflective parser on edge shapes") {
    implicit val fmts: org.json4s.Formats =
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
    val entries = Seq(
      // escapes, unicode (incl. supplementary plane), spaces in paths
      FileEntry("/tmp/x y/\"quoted\"\\part-\u03a9\ud835\udcb3.parquet", 5L,
        Map("s" -> ColRange(None, None, Some("a\"b\\c\nd\te"), Some("\u00fc\ud835\udd4f"),
          allNull = false)), Some(1L), Some(2L)),
      // numeric ranges incl. negatives / large values; all options set
      FileEntry("/p", 0L,
        Map("n" -> ColRange(Some(-1.5), Some(2.0e9), None, None, allNull = true),
          "m" -> ColRange(Some(0.0), Some(0.0), None, None, allNull = false)),
        Some(123456789012L), Some(7L)),
      // empty ranges
      FileEntry("/q", 42L, Map.empty, Some(9L), Some(1L)))
    entries.foreach { e =>
      val line = org.json4s.jackson.Serialization.write(e)
      assert(ZoneMap.parseEntryLine(line) == e, line)
    }
    // a bytes-less or gen-less line (the pre-r14 shape) is refused, by
    // the full parse and by the streaming prune's verdict parse alike
    Seq(FileEntry("/q", 42L, Map.empty, None, Some(1L)),
        FileEntry("/q", 42L, Map.empty, Some(9L), None)).foreach { e =>
      val line = org.json4s.jackson.Serialization.write(e)
      val ex = intercept[IllegalStateException](ZoneMap.parseEntryLine(line))
      assert(ex.getMessage.contains("rebuild the table"), ex.getMessage)
      val b = line.getBytes("UTF-8")
      intercept[IllegalStateException](ZoneMap.parseEntryVerdict(b, 0, b.length, Array.empty))
    }
  }

  test("read cache: total-entry budget evicts; oversized manifests stay transient") {
    sys.props("graft.manifest.readCacheEntryBudget") = "10"
    try {
      ZoneMap.clearReadCache()
      val d1 = tmp(); val d2 = tmp()
      ZoneMap.write(d1, manifest(6, d1))
      ZoneMap.write(d2, manifest(6, d2))
      val a1 = ZoneMap.read(d1)
      val a2 = ZoneMap.read(d2) // 6+6 > 10: d1 evicted
      assert(ZoneMap.read(d2) eq a2, "d2 must still be cached")
      assert(!(ZoneMap.read(d1) eq a1), "evicted manifest must re-parse")
      // a single manifest above the whole budget is never cached at all
      val d3 = tmp()
      ZoneMap.write(d3, manifest(20, d3))
      val b1 = ZoneMap.read(d3)
      val b2 = ZoneMap.read(d3)
      assert(!(b1 eq b2) && b1 == b2, "over-budget manifest must stay transient")
    } finally {
      sys.props.remove("graft.manifest.readCacheEntryBudget")
      ZoneMap.clearReadCache()
    }
  }

  test("relocated dir with sidecar: read rebases entry paths from the JSONL") {
    withThreshold(5) {
      val dir = tmp()
      ZoneMap.write(dir, manifest(8, dir))
      val moved = dir + "_moved"
      java.nio.file.Files.move(java.nio.file.Paths.get(dir),
        java.nio.file.Paths.get(moved))
      val r = ZoneMap.read(moved)
      assert(r.files.length == 8)
      // rebased paths come back in canonical URI form (file:<dir>/...)
      assert(r.files.forall(_.path.contains(moved + "/")),
        r.files.head.path)
    }
  }
}
