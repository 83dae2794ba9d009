package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under its own `crashfs` scheme, with two hooks
  * on a rename INTO a chosen target path: [[PromoteCrashFs.armed]]
  * makes it throw, [[PromoteCrashFs.before]] runs an action just
  * before it. The only rename whose destination is a swap's target is
  * the promote of [[Recovery.swap]] (or a heal's), so a hook on a
  * target lands in a real write's window between retire and promote —
  * where a killed writer leaves torn state, and where a concurrent
  * heal can race it — without naming any staging or retired sibling.
  * Register it with `fs.crashfs.impl` = this class on the session's
  * Hadoop conf and address paths as `crashfs:///abs/path`.
  */
class PromoteCrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
  override def getScheme: String = "crashfs"

  override def rename(src: Path, dst: Path): Boolean = {
    val at = dst.toUri.getPath
    if (PromoteCrashFs.armed.contains(at))
      throw new java.io.IOException(s"injected crash: rename $src -> $dst")
    PromoteCrashFs.before.filter(_._1 == at).foreach { case (_, action) =>
      // fires once: the action's own rename onto `at` must not recurse
      PromoteCrashFs.before = None
      action()
    }
    super.rename(src, dst)
  }
}

object PromoteCrashFs {
  /** Absolute local path whose incoming rename throws; None = inert. */
  @volatile var armed: Option[String] = None

  /** (absolute local path, action): the action runs once, just before
    * the next rename into that path; None = inert.
    */
  @volatile var before: Option[(String, () => Unit)] = None
}
