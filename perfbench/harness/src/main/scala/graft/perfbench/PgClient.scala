package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** What the client keeps of a statement's result rows. */
sealed trait Keep
/** Every row, each cell decoded to text (small results that get checked). */
case object KeepRows extends Keep
/** Only an order-independent digest of integer-valued cells (bulk export). */
case object KeepDigest extends Keep

/** One statement's outcome as the client saw it. Times are System.nanoTime. */
final case class Reply(
    tag: String,
    error: String,
    rows: Vector[Array[String]],
    digest: Array[Long],
    rowCount: Long,
    bytesIn: Long,
    firstRowNs: Long,
    copyStartNs: Long,
    decodeNs: Long)

/** A minimal raw pgwire v3 client: startup, simple query (with COPY FROM
  * STDIN), and the unnamed-statement extended protocol. It reads
  * DataRows straight from the socket buffer and times its own decoding,
  * so its cost is reported rather than hidden in the server's numbers.
  */
final class PgClient(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  // a statement that has sent nothing for this long counts as timed out
  sock.setSoTimeout(60000)
  private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
  private val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
  /** Backend pid from BackendKeyData: the server tags this connection's
    * Spark jobs with job group `pgwire-session-<pid>`.
    */
  var pid: Int = -1

  locally {
    val body = new ByteArrayOutputStream()
    val d = new DataOutputStream(body)
    d.writeInt(196608)
    Seq("user", "bench", "database", "bench").foreach(cstr(d, _))
    d.writeByte(0)
    out.writeInt(4 + body.size); body.writeTo(out); out.flush()
    val r = readUntilReady(KeepRows)
    if (r.error != null) throw new IllegalStateException("startup failed: " + r.error)
  }

  private def cstr(d: DataOutputStream, s: String): Unit = {
    d.write(s.getBytes(UTF_8)); d.writeByte(0)
  }

  private def send(tpe: Char)(body: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    body(new DataOutputStream(buf))
    out.writeByte(tpe); out.writeInt(4 + buf.size); buf.writeTo(out)
  }

  /** Simple-query protocol. `copyPayload` answers a CopyInResponse. */
  def query(sql: String, keep: Keep, copyPayload: java.nio.file.Path = null): Reply = {
    send('Q')(cstr(_, sql)); out.flush()
    readUntilReady(keep, copyPayload)
  }

  /** Extended protocol: Parse/Bind/Execute/Sync of the unnamed statement
    * with one text-format parameter.
    */
  def execute(sql: String, param: String, keep: Keep): Reply = {
    send('P') { d => cstr(d, ""); cstr(d, sql); d.writeShort(0) }
    send('B') { d =>
      cstr(d, ""); cstr(d, "")
      d.writeShort(0)
      d.writeShort(1)
      val b = param.getBytes(UTF_8); d.writeInt(b.length); d.write(b)
      d.writeShort(0)
    }
    send('E') { d => cstr(d, ""); d.writeInt(0) }
    send('S')(_ => ())
    out.flush()
    readUntilReady(keep)
  }

  private def sendCopy(path: java.nio.file.Path): Unit = {
    val src = java.nio.file.Files.newInputStream(path)
    try {
      val chunk = new Array[Byte](1 << 16)
      var n = src.read(chunk)
      while (n > 0) {
        out.writeByte('d'); out.writeInt(4 + n); out.write(chunk, 0, n)
        n = src.read(chunk)
      }
    } finally src.close()
    out.writeByte('c'); out.writeInt(4); out.flush()
  }

  private def readUntilReady(keep: Keep,
      copyPayload: java.nio.file.Path = null): Reply = {
    var tag: String = null
    var error: String = null
    val rows = Vector.newBuilder[Array[String]]
    val digest = new Array[Long](Digest.Width)
    var rowCount = 0L
    var bytesIn = 0L
    var firstRow = 0L
    var copyStart = 0L
    var decodeNs = 0L
    var buf = new Array[Byte](256)
    var done = false
    while (!done) {
      val tpe = in.read()
      if (tpe < 0) throw new java.io.EOFException("server closed the connection")
      val len = in.readInt() - 4
      if (buf.length < len) buf = new Array[Byte](math.max(len, buf.length * 2))
      in.readFully(buf, 0, len)
      bytesIn += len + 5
      tpe.toChar match {
        case 'D' =>
          if (firstRow == 0L) firstRow = System.nanoTime()
          val d0 = System.nanoTime()
          if (keep == KeepRows) rows += decodeRow(buf)
          else Digest.add(digest, buf)
          decodeNs += System.nanoTime() - d0
          rowCount += 1
        case 'C' => tag = new String(buf, 0, len - 1, UTF_8)
        case 'E' => error = errorMessage(buf, len)
        case 'G' =>
          copyStart = System.nanoTime()
          if (copyPayload == null) {
            send('f')(cstr(_, "no payload")); out.flush()
          } else sendCopy(copyPayload)
        case 'K' => pid = java.nio.ByteBuffer.wrap(buf, 0, 4).getInt
        case 'Z' => done = true
        case _ => () // T, 1, 2, S, N, I, n, s: nothing to keep
      }
    }
    Reply(tag, error, rows.result(), digest, rowCount, bytesIn, firstRow, copyStart, decodeNs)
  }

  private def decodeRow(b: Array[Byte]): Array[String] = {
    val n = ((b(0) & 0xff) << 8) | (b(1) & 0xff)
    var p = 2
    Array.tabulate(n) { _ =>
      val l = java.nio.ByteBuffer.wrap(b, p, 4).getInt
      p += 4
      if (l < 0) null
      else { val s = new String(b, p, l, UTF_8); p += l; s }
    }
  }

  private def errorMessage(b: Array[Byte], len: Int): String = {
    var p = 0
    var msg = "error"
    while (p < len && b(p) != 0) {
      val field = b(p).toChar
      var e = p + 1
      while (b(e) != 0) e += 1
      if (field == 'M') msg = new String(b, p + 1, e - p - 1, UTF_8)
      p = e + 1
    }
    msg
  }

  def close(): Unit = {
    try { send('X')(_ => ()); out.flush() } catch { case _: java.io.IOException => () }
    sock.close()
  }
}

/** Order-independent digest of a bulk result whose cells are all integers
  * written in decimal text: the row count, each column's sum, and a sum of
  * per-row products that ties the columns of one row together. All sums
  * wrap at 64 bits; the checker recomputes them with the same wrap.
  */
object Digest {
  val Columns = 5
  val Width = Columns + 2

  def add(acc: Array[Long], b: Array[Byte]): Unit = {
    val n = ((b(0) & 0xff) << 8) | (b(1) & 0xff)
    require(n == Columns, s"digest expects $Columns columns, got $n")
    var p = 2
    var mix = 0L
    var i = 0
    while (i < n) {
      val l = ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
        ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      p += 4
      var v = 0L
      var neg = false
      var k = 0
      while (k < l) {
        val c = b(p + k)
        if (c == '-') neg = true else v = v * 10 + (c - '0')
        k += 1
      }
      p += l
      if (neg) v = -v
      acc(1 + i) += v
      mix = mix * 1000003L + v
      i += 1
    }
    acc(0) += 1
    acc(Width - 1) += mix
  }
}
