package graft.sources

import java.io.InputStream
import java.net.{HttpURLConnection, URL}

import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream, FileStatus, Path}
import org.apache.hadoop.fs.http.HttpFileSystem

/** Read-side http(s) ingestion — the reference's httpfs extension
  * (/root/reference/extension/httpfs/httpfs.cpp) for Spark scans.
  *
  * Hadoop ships a read-only [[HttpFileSystem]] but it cannot back a
  * Spark scan: `getFileStatus` fakes the length, `listStatus` is
  * unimplemented, and its input stream throws on `seek`. This
  * subclass fills exactly those three gaps, the same way httpfs.cpp
  * does:
  *
  *  - `getFileStatus`: a HEAD request supplies the real
  *    Content-Length, so the file index can size splits.
  *  - `listStatus`: a URL is a single-file listing.
  *  - `open`: a seekable stream where `seek` re-issues the GET with a
  *    `Range: bytes=N-` header (falling back to a skip when the
  *    server answers 200 instead of 206) — the ranged-GET pattern
  *    that lets parquet read footer-first over HTTP.
  *
  * Register with `spark.hadoop.fs.http.impl=graft.sources.HttpFs`
  * (same class for `fs.https.impl`) and `Catalog.parquet(spark,
  * "http://host/file")` (or `spark.read.csv/json`) plans a normal
  * distributed scan; the parquet schema comes from one footer read on
  * the driver, through the same ranged GETs. For real
  * object stores, s3a:// implements the same contract (seek = ranged
  * GET) via the hadoop-aws jars on the cluster classpath — not
  * shipped in this zero-egress image, so S3A is a documented posture
  * while http(s) is tested end-to-end (HttpIngestSpec).
  */
class HttpFs extends HttpFileSystem {

  override def getFileStatus(f: Path): FileStatus = {
    val conn = f.toUri.toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("HEAD")
    try {
      val code = conn.getResponseCode
      require(code >= 200 && code < 300, s"HEAD $f → HTTP $code")
      val len = conn.getContentLengthLong
      new FileStatus(math.max(len, 0L), false, 1, 128L * 1024 * 1024, 0L, f)
    } finally conn.disconnect()
  }

  override def listStatus(f: Path): Array[FileStatus] = Array(getFileStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    new FSDataInputStream(
      new BufferedFSInputStream(new HttpFs.RangedStream(f.toUri.toURL), math.max(bufferSize, 4096)))
}

object HttpFs {

  /** Seekable HTTP input: lazy GET at the current position via a
    * Range header; `seek` just closes the connection and records the
    * new offset, so a footer-then-column-chunks parquet access
    * pattern costs one ranged GET per contiguous run, not one per
    * byte.
    */
  private final class RangedStream(url: URL) extends FSInputStream {
    private var in: InputStream = null
    private var pos: Long = 0L

    private def ensure(): InputStream = {
      if (in == null) {
        val conn = url.openConnection().asInstanceOf[HttpURLConnection]
        if (pos > 0) conn.setRequestProperty("Range", s"bytes=$pos-")
        val code = conn.getResponseCode
        require(code >= 200 && code < 300, s"GET $url @$pos → HTTP $code")
        in = conn.getInputStream
        if (pos > 0 && code == 200) {
          // server ignored the Range header: burn down to the offset
          var toSkip = pos
          while (toSkip > 0) {
            val s = in.skip(toSkip)
            require(s > 0, s"cannot skip to offset $pos in $url")
            toSkip -= s
          }
        }
      }
      in
    }

    override def read(): Int = {
      val b = ensure().read()
      if (b >= 0) pos += 1
      b
    }

    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = ensure().read(buf, off, len)
      if (n > 0) pos += n
      n
    }

    override def seek(p: Long): Unit = if (p != pos) {
      if (in != null) { in.close(); in = null }
      pos = p
    }

    override def getPos: Long = pos

    override def seekToNewSource(targetPos: Long): Boolean = false

    override def close(): Unit = {
      if (in != null) { in.close(); in = null }
    }
  }
}
