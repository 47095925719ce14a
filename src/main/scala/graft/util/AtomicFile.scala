package graft.util

import java.io.OutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}

/** The one small-file atomic write the sidecars share (the sink
  * ledger, the Bloom membership sidecar): write `<path>.tmp`, then
  * `FileContext.rename(OVERWRITE)` it over `path`. A reader sees the
  * previous file or the new one, never a half-written one, and a crash
  * never leaves NO file — a delete-then-rename pair would, between
  * its two calls.
  */
private[graft] object AtomicFile {

  def write(conf: Configuration, path: String)(body: OutputStream => Unit): Unit = {
    val p = new Path(path)
    val tmp = new Path(path + ".tmp")
    val out = tmp.getFileSystem(conf).create(tmp, true)
    try body(out) finally out.close()
    FileContext.getFileContext(p.toUri, conf)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }
}
