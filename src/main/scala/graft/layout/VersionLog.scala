package graft.layout

import java.nio.file.{FileAlreadyExistsException, Files, Path}

/** Write-once versioned metadata, the publish rule of Delta's
  * `_delta_log/N.json` and Iceberg's `vN.metadata.json`: version n of a
  * log dir is the file `<log>/<n, 20 digits><ext>`, and no version file
  * is ever rewritten. [[publish]] writes the bytes to a uniquely named
  * temp file and hard-links it to the version's name; link(2) fails with
  * EEXIST when that name exists, so a publish is a put-if-absent, across
  * JVMs too. The current version is the highest one in the listing
  * ([[latest]]).
  *
  * Nothing here renames over or truncates a file: on ext4 either forces
  * a flush of the replaced file (~60 ms each on a 4-core ext4 host),
  * while creating, linking or unlinking a fresh name does not. Durability
  * stays what it was for the data files: a process crash never leaves a
  * torn version, power loss is not covered.
  */
private[graft] object VersionLog {

  def fileName(n: Long, ext: String): String = {
    val digits = n.toString
    "0" * (20 - digits.length) + digits + ext
  }

  def file(log: Path, n: Long, ext: String): Path = log.resolve(fileName(n, ext))

  /** The version a file name holds, -1 when it is not a version of `ext`. */
  private def versionOf(name: String, ext: String): Long = {
    if (name.length != 20 + ext.length || !name.endsWith(ext)) return -1L
    var v = 0L
    var i = 0
    while (i < 20) {
      val c = name.charAt(i)
      if (c < '0' || c > '9') return -1L
      v = v * 10 + (c - '0')
      i += 1
    }
    v
  }

  // File.list: one native call, names only (null when the dir is missing)
  private def names(log: Path): Array[String] =
    Option(log.toFile.list()).getOrElse(Array.empty)

  /** Versions present in `log`, ascending; empty when the dir is missing. */
  def versions(log: Path, ext: String): Seq[Long] =
    names(log).iterator.map(versionOf(_, ext)).filter(_ >= 0).toSeq.sorted

  /** The current (highest) version of `log`: one listing, on every
    * manifest read, so no collection is built.
    */
  def latest(log: Path, ext: String): Option[Long] = {
    val ns = names(log)
    var best = -1L
    var i = 0
    while (i < ns.length) {
      best = math.max(best, versionOf(ns(i), ext))
      i += 1
    }
    if (best < 0) None else Some(best)
  }

  /** Publish `bytes` as version `n` of `log`; false, leaving the
    * existing file as it was, when version `n` already exists.
    */
  def publish(log: Path, n: Long, ext: String, bytes: Array[Byte]): Boolean = {
    Files.createDirectories(log)
    val tmp = log.resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes, java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    try { Files.createLink(file(log, n, ext), tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Publish `bytes` as the version after the current one, last writer
    * wins, and drop all but that version and its predecessor (a reader
    * that listed the predecessor still finds it).
    */
  def publishNext(log: Path, ext: String, bytes: Array[Byte]): Unit = {
    var n = latest(log, ext).getOrElse(0L) + 1
    while (!publish(log, n, ext, bytes)) n += 1
    dropBelow(log, ext, n - 1)
  }

  /** Delete every version below `keepFrom`. */
  def dropBelow(log: Path, ext: String, keepFrom: Long): Unit =
    versions(log, ext).filter(_ < keepFrom)
      .foreach(v => Files.deleteIfExists(file(log, v, ext)))
}
