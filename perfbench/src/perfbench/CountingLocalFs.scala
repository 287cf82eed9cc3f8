package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}

import java.util.concurrent.atomic.AtomicLong

/** The local filesystem, counting the metadata and read operations made
  * through Hadoop's `FileSystem` API: list, status (which `exists` goes
  * through) and open. Hadoop's own statistics do not count listing on the
  * local scheme. Installed as `fs.file.impl` in traced runs only. */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingLocalFs.ops.incrementAndGet(); super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    CountingLocalFs.ops.incrementAndGet(); super.getFileStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.ops.incrementAndGet(); super.open(p, bufferSize)
  }
}

object CountingLocalFs {
  val ops = new AtomicLong
}
