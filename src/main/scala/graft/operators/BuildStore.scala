package graft.operators

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one store for every persisted build artifact (the HNSW index
  * layouts and the trained k-means codebook), and the one key every
  * build memo shares (the dedup chooser's included): a sampled digest of the
  * fixture's `embeddings.parquet` bytes (the table every build reads),
  * a fingerprint of the engine's compiled code, the builder's tag and
  * its parameters. A regenerated fixture, a code change or another
  * knob is a new key, so nothing stale is served and no tag is bumped
  * by hand. One directory per entry under
  * `java.io.tmpdir/graft_base_index`, published atomically. */
private[graft] object BuildStore {

  private def root: File =
    new File(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_base_index")

  private def hex(md: MessageDigest): String =
    md.digest().map("%02x".format(_)).mkString.take(16)

  /** Hashed once per JVM from the code source that holds [[Ann]]. */
  private[graft] lazy val codeFingerprint: String =
    codeFingerprintOf(new File(Option(Ann.getClass.getProtectionDomain.getCodeSource)
      .getOrElse(throw new IllegalStateException("engine code has no code source"))
      .getLocation.toURI))

  /** A jar's bytes, or every `graft/**/*.class` of a classes directory
    * (relative path and bytes, in path order). */
  private[graft] def codeFingerprintOf(loc: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    if (loc.isFile && loc.getName.endsWith(".jar")) md.update(Files.readAllBytes(loc.toPath))
    else if (loc.isDirectory) {
      val walk = Files.walk(loc.toPath.resolve("graft"))
      val classes = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".class")).toVector
          .map(loc.toPath.relativize(_).toString).sorted
      } finally walk.close()
      classes.foreach { rel =>
        md.update(s"$rel|".getBytes("UTF-8"))
        md.update(Files.readAllBytes(loc.toPath.resolve(rel)))
      }
    } else throw new IllegalStateException(
      s"cannot fingerprint engine code at $loc: neither a jar nor a classes directory")
    hex(md)
  }

  /** Per part file: name, length, mtime, head and tail 8 KB (the tail
    * holds the parquet footer) and six strided 4 KB interior windows.
    * Sampled, not a full hash, which would read the whole fixture on
    * every lookup; an edit between the windows that keeps mtime and
    * every footer statistic is the accepted residual. */
  private[graft] def contentDigest(d: String): String = {
    val table = new File(s"$d/embeddings.parquet")
    // listFiles() is NULL (not empty) on an IO/permission failure
    val files =
      if (table.isDirectory)
        Option(table.listFiles()).getOrElse(Array.empty[File]).filter(_.isFile).sortBy(_.getName).toSeq
      else if (table.isFile) Seq(table)
      else Seq.empty
    val md = MessageDigest.getInstance("MD5")
    files.foreach { f =>
      md.update(s"${f.getName}|${f.length}|${f.lastModified}|".getBytes("UTF-8"))
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val span = math.min(8192L, raf.length).toInt
        val buf = new Array[Byte](span)
        raf.readFully(buf); md.update(buf)
        if (raf.length > span) {
          raf.seek(raf.length - span)
          raf.readFully(buf); md.update(buf)
        }
        val win = 4096
        if (raf.length > 2L * span + win) {
          val innerHi = raf.length - span - win
          val wbuf = new Array[Byte](win)
          (1 to 6).foreach { i =>
            raf.seek(span + (innerHi - span) * i / 7)
            raf.readFully(wbuf); md.update(wbuf)
          }
        }
      } finally raf.close()
    }
    hex(md)
  }

  /** The entry name of builder `tag` at `params` over fixture `d`. */
  private[graft] def key(d: String, tag: String, params: String*): String =
    ((tag +: params) ++ Seq(contentDigest(d), codeFingerprint)).mkString("-")

  private[graft] def path(d: String, tag: String, params: String*): String =
    new File(root, key(d, tag, params: _*)).getPath

  private[graft] def published(path: String): Boolean =
    new File(path, "_SUCCESS").exists()

  /** The entry of builder `tag` at `params` over `d`, published from
    * `build` on a miss, then read back. DOUBLEs round-trip parquet
    * bitwise, so a read is hash-identical to a rebuild. */
  def parquet(s: SparkSession, d: String, tag: String, params: String*)(
      build: => DataFrame): DataFrame = {
    val p = path(d, tag, params: _*)
    publish(p)(build)
    s.read.parquet(p)
  }

  private val publishSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Unless `path` is published: writes `build` to a tmp sibling
    * unique per process and call, then renames it into place, so a
    * reader never sees a half-written entry. A failed rename means a
    * concurrent writer won (its rows are the same: ours are dropped)
    * or a STALE PARTIAL blocks the slot (no `_SUCCESS`, a writer died
    * mid-delete): it is cleared and the rename retried once. */
  def publish(path: String)(build: => DataFrame): Unit =
    if (!published(path)) {
      val tmp = new File(s"$path.tmp-${ProcessHandle.current().pid()}-${publishSeq.incrementAndGet()}")
      val dst = new File(path)
      try {
        build.write.parquet(tmp.getPath)
        if (!tmp.renameTo(dst) && !published(path)) {
          deleteRecursively(dst)
          if (!tmp.renameTo(dst) && !published(path))
            throw new IllegalStateException(s"build store: could not publish $path (blocked twice)")
        }
      } finally deleteRecursively(tmp)
    }

  /** Recursive delete, null-safe on unreadable dirs. */
  private[graft] def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
