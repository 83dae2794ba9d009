package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** The local filesystem under its own `crashfs` scheme, whose rename
  * INTO an armed target path throws. The only rename whose destination
  * is a swap's target is the promote of [[Recovery.idempotentWrite]],
  * so arming a target crashes a real write between retire and promote
  * — the torn state a killed writer leaves — without naming any
  * staging or retired sibling. Register it with
  * `fs.crashfs.impl` = this class on the session's Hadoop conf and
  * address paths as `crashfs:///abs/path`.
  */
class PromoteCrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("crashfs:///")
  override def getScheme: String = "crashfs"

  override def rename(src: Path, dst: Path): Boolean = {
    if (PromoteCrashFs.armed.contains(dst.toUri.getPath))
      throw new java.io.IOException(s"injected crash: rename $src -> $dst")
    super.rename(src, dst)
  }
}

object PromoteCrashFs {
  /** Absolute local path whose incoming rename throws; None = inert. */
  @volatile var armed: Option[String] = None
}
