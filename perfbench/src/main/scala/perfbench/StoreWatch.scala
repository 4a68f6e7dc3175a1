package perfbench

import scala.collection.mutable

import graft.engine.VersionedStore

/** Byte accounting of one VersionedStore root, from outside the store:
  * data files are immutable and uniquely named, so every name not seen
  * before is a file the store wrote. `scan()` after each commit records
  * them; the per-pass figures come from the differences. */
final class StoreWatch(root: String, tables: Seq[String]) {
  private val seen = mutable.Map[String, Long]()
  var filesAdded = 0L
  var bytesAdded = 0L

  private def listing(): Seq[java.io.File] = tables.flatMap { t =>
    val dir = new java.io.File(s"$root/$t")
    val files = new java.io.File(dir, "files")
    Option(dir.listFiles).getOrElse(Array.empty).filter(_.isFile).toSeq ++
      Option(files.listFiles).getOrElse(Array.empty).filter(_.isFile).toSeq
  }

  /** Record files that appeared since the last scan. */
  def scan(): Unit = listing().foreach { f =>
    val key = f.getPath
    if (!seen.contains(key) && !f.getName.endsWith(".tmp") && !f.getName.startsWith("_current")) {
      seen(key) = f.length
      bytesAdded += f.length
      if (f.getParentFile.getName == "files") filesAdded += 1
    }
  }

  /** Live snapshot's data files (+ deletion vectors) over all tables. */
  def liveFiles(store: VersionedStore): Seq[java.io.File] = tables.flatMap { t =>
    store.currentVersion(t).toSeq.flatMap { v =>
      store.manifestWithStats(t, v)._2.flatMap(e => e.file +: e.dvs)
        .map(f => new java.io.File(s"$root/$t/files/$f"))
    }
  }

  def manifestBytes: Long = tables.flatMap { t =>
    Option(new java.io.File(s"$root/$t").listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".manifest")).toSeq
  }.map(_.length).sum

  def diskBytes: Long = Util.dirBytes(new java.io.File(root))
}

/** Per-pass store figures, recorded by the workloads that commit. */
final case class StoreFigures(filesAdded: Long, bytesAdded: Long, sourceBytes: Long,
    filesLive: Long, liveBytes: Long, diskBytes: Long, manifestBytes: Long)

object StoreFigures {
  def of(w: StoreWatch, store: VersionedStore, sourceBytes: Long, f0: Long,
      b0: Long): StoreFigures = {
    val live = w.liveFiles(store)
    StoreFigures(w.filesAdded - f0, w.bytesAdded - b0, sourceBytes, live.size,
      live.map(_.length).sum, w.diskBytes, w.manifestBytes)
  }

  /** write_amp, space_amp and the store.* size counters of some passes. */
  def metrics(fs: Seq[StoreFigures]): Map[String, Double] = {
    def med(f: StoreFigures => Double) = Util.median(fs.map(f))
    Map(
      "write_amp" -> med(f => f.bytesAdded.toDouble / math.max(1L, f.sourceBytes)),
      "space_amp" -> med(f => f.diskBytes.toDouble / math.max(1L, f.liveBytes)),
      "store.files_added" -> med(_.filesAdded.toDouble),
      "store.bytes_added" -> med(_.bytesAdded.toDouble),
      "store.files_live" -> med(_.filesLive.toDouble),
      "store.manifest_bytes" -> med(_.manifestBytes.toDouble))
  }
}
