package graft

import graft.sources.CommitLog

/** [[CommitLog.ManifestStore]] doubles for deterministic OCC
  * interleaves on local tables. */
object ManifestStores {

  /** The default store's local-path behavior through the filesystem
    * primitive: a fully written temp file is linked to `dst`, and an
    * existing `dst` (EEXIST) loses. */
  val linking: CommitLog.ManifestStore =
    new CommitLog.ConditionalPutStore((dst, content) => {
      val p = java.nio.file.Paths.get(
        new java.net.URI("file://" + dst).getPath)
      try {
        val tmp = java.nio.file.Files.createTempFile(
          p.getParent, ".tmp-", "")
        java.nio.file.Files.write(tmp, content)
        try { java.nio.file.Files.createLink(p, tmp); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        } finally java.nio.file.Files.deleteIfExists(tmp): Unit
      } catch { case _: java.nio.file.NoSuchFileException => false }
    })

  /** Loses the first manifest publish it sees: runs `interleave` (a
    * concurrent writer, whose own publishes go through [[linking]]),
    * then reports the version as taken. Every later publish links.
    * `fired` tells whether the interception happened. */
  final class LoseOnce(interleave: () => Unit = () => ())
      extends CommitLog.ManifestStore {
    @volatile var fired = false
    private val nested = new ThreadLocal[Boolean] {
      override def initialValue(): Boolean = false
    }
    override def createIfAbsent(dst: String,
        content: Array[Byte]): Boolean =
      if (!fired && !nested.get() && dst.endsWith(".manifest")) {
        fired = true
        nested.set(true)
        try interleave() finally nested.set(false)
        false
      } else linking.createIfAbsent(dst, content)
  }

  /** Run `body` with `store` arbitrating the publishes of `table`. */
  def withStore[A](table: String, store: CommitLog.ManifestStore)(
      body: => A): A = {
    CommitLog.registerManifestStore(table, store)
    try body finally CommitLog.unregisterManifestStore(table)
  }
}
