package graft

import java.net.Socket
import java.nio.charset.StandardCharsets

/** Minimal pgwire frontend for tests that drive the server over raw
  * frames: simple query plus the extended protocol's messages.
  */
private[graft] class PgClient(port: Int) {
  import java.io.{DataInputStream, DataOutputStream}
  val sock = new Socket("127.0.0.1", port)
  sock.setSoTimeout(120000)
  val out = new DataOutputStream(sock.getOutputStream)
  val in = new DataInputStream(sock.getInputStream)

  def readMsg(): (Char, Array[Byte]) = {
    val t = in.read().toChar
    val len = in.readInt()
    val b = new Array[Byte](len - 4)
    in.readFully(b)
    (t, b)
  }
  def untilReady(): Seq[(Char, Array[Byte])] = {
    val buf = collection.mutable.Buffer[(Char, Array[Byte])]()
    var m = readMsg()
    while (m._1 != 'Z') { buf += m; m = readMsg() }
    (buf += m).toSeq
  }
  /** StartupMessage; returns the BackendKeyData (pid, secret). */
  def startup(): (Int, Int) = startupWith()
  /** StartupMessage carrying extra parameters (pgJDBC ships TimeZone,
    * DateStyle, client_encoding here, before any SET).
    */
  def startupWith(extra: (String, String)*): (Int, Int) = {
    val kv = (Seq("user" -> "graft") ++ extra)
      .map { case (k, v) => k + "\u0000" + v + "\u0000" }.mkString
    val params = (kv + "\u0000").getBytes(StandardCharsets.UTF_8)
    out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
    val hello = untilReady()
    val key = hello.collectFirst { case ('K', b) => b }.get
    val bb = java.nio.ByteBuffer.wrap(key)
    (bb.getInt, bb.getInt)
  }
  def query(sql: String): Seq[(Char, Array[Byte])] = {
    val b = (sql + "\u0000").getBytes(StandardCharsets.UTF_8)
    out.writeByte('Q'); out.writeInt(4 + b.length); out.write(b); out.flush()
    untilReady()
  }
  // ---- extended-protocol raw frames ----
  private def frame(tpe: Char)(body: DataOutputStream => Unit): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    body(new DataOutputStream(buf))
    out.writeByte(tpe); out.writeInt(4 + buf.size); buf.writeTo(out)
  }
  private def cstr(d: DataOutputStream, s: String): Unit = {
    d.write(s.getBytes(StandardCharsets.UTF_8)); d.writeByte(0)
  }
  def parse(name: String, sql: String, paramOids: Seq[Int] = Nil): Unit =
    frame('P') { d =>
      cstr(d, name); cstr(d, sql)
      d.writeShort(paramOids.length); paramOids.foreach(d.writeInt)
    }
  def bind(portal: String, stmt: String, resultFormats: Seq[Int] = Nil,
      paramFormats: Seq[Int] = Nil, params: Seq[Array[Byte]] = Nil): Unit =
    frame('B') { d =>
      cstr(d, portal); cstr(d, stmt)
      d.writeShort(paramFormats.length); paramFormats.foreach(d.writeShort)
      d.writeShort(params.length)
      params.foreach { p =>
        if (p == null) d.writeInt(-1)
        else { d.writeInt(p.length); d.write(p) }
      }
      d.writeShort(resultFormats.length)
      resultFormats.foreach(d.writeShort)
    }
  def describePortal(portal: String): Unit = frame('D') { d =>
    d.writeByte('P'); cstr(d, portal)
  }
  def execute(portal: String, maxRows: Int): Unit = frame('E') { d =>
    cstr(d, portal); d.writeInt(maxRows)
  }
  def flushMsg(): Unit = { frame('H')(_ => ()); out.flush() }
  def sync(): Seq[(Char, Array[Byte])] = {
    frame('S')(_ => ()); out.flush(); untilReady()
  }
  /** Read replies until an Execute outcome: PortalSuspended ('s'),
    * CommandComplete ('C'), or ErrorResponse ('E').
    */
  def untilOutcome(): Seq[(Char, Array[Byte])] = {
    val buf = collection.mutable.Buffer[(Char, Array[Byte])]()
    var m = readMsg()
    while (m._1 != 's' && m._1 != 'C' && m._1 != 'E') { buf += m; m = readMsg() }
    (buf += m).toSeq
  }
  def close(): Unit = sock.close()
}
