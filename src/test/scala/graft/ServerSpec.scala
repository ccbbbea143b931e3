package graft

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine

/** Drives graft.Server through a real TCP socket — the pgwire-parity
  * smoke: CREATE / INSERT / SELECT / error / shell sugar over the wire.
  */
class ServerSpec extends AnyFunSuite {
  import TestSpark._

  test("socket client round-trips DDL, DML, query, error, and sugar") {
    val dir = freshDir("/root/repo/target/graft-tmp/server-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0) // ephemeral port
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-server-spec")
    acceptor.setDaemon(true)
    acceptor.start()

    val client = new Socket("127.0.0.1", server.getLocalPort)
    try {
      client.setSoTimeout(120000)
      val out = new PrintWriter(new java.io.OutputStreamWriter(
        client.getOutputStream, StandardCharsets.UTF_8), true)
      val in = new BufferedReader(new InputStreamReader(
        client.getInputStream, StandardCharsets.UTF_8))

      // statement → all lines up to and including the OK/ERR terminator
      def send(stmt: String): Seq[String] = {
        out.println(stmt)
        val lines = collection.mutable.Buffer[String]()
        var l = in.readLine()
        while (l != null && !l.startsWith("OK ") && !l.startsWith("ERR ")) {
          lines += l
          l = in.readLine()
        }
        lines += l
        lines.toSeq
      }

      assert(send("create table srv(v int not null, s varchar);").last == "OK 0")
      assert(send("insert into srv values (1, 'a'), (2, 'b'), (3, 'c');").last == "OK 1")
      // multi-line statement: terminator only fires on the ';' line
      out.println("select v, s from srv")
      val rows = send("where v >= 2 order by v;")
      assert(rows == Seq("2\tb", "3\tc", "OK 2"))
      // errors come back as ERR, connection stays usable
      assert(send("select nope from srv;").last.startsWith("ERR "))
      assert(send("select count(*) from srv;") == Seq("3", "OK 1"))
      // shell sugar works unterminated, like the REPL
      val dt = send("\\dt")
      assert(dt.last.startsWith("OK ") && dt.exists(_.contains("srv")))
      // rows that would read as a terminator are space-stuffed
      assert(send("select 'OK 1' as s;") == Seq(" OK 1", "OK 1"))
      assert(send("select ' pad' as s;") == Seq("  pad", "OK 1"))
      // r18: a ';' inside a multi-line block comment keeps buffering —
      // the statement executes as ONE once the comment closes (the old
      // endsWith(";") test dispatched the truncated first line)
      out.println("select v /* note; ")
      assert(send("*/ from srv where v = 1;") == Seq("1", "OK 1"))
      // ... and inside a multi-line dollar-quoted function body
      out.println("create function apost(x varchar) returns varchar")
      out.println("language sql as $fn$select x || ';'")
      assert(send("$fn$;").last == "OK 0")
      assert(send("select apost(s) as r from srv where v = 1;") ==
        Seq("a;", "OK 1"))
      // two statements on one line both run, in order: each DML answers
      // its rows_affected row + OK terminator back to back
      out.println("insert into srv values (4, 'd'); delete from srv where v = 4;")
      assert(Seq.fill(4)(in.readLine()) == Seq("1", "OK 1", "1", "OK 1"))
    } finally {
      client.close()
      server.close()
    }
  }

  test("pgwire client: handshake, simple query, multi-statement, error recovery") {
    import java.io.{DataInputStream, DataOutputStream}
    val dir = freshDir("/root/repo/target/graft-tmp/pgwire-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-pgwire-spec")
    acceptor.setDaemon(true)
    acceptor.start()

    val sock = new Socket("127.0.0.1", server.getLocalPort)
    try {
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
        buf += m
        buf.toSeq
      }
      def query(sql: String): Seq[(Char, Array[Byte])] = {
        val b = (sql + "\u0000").getBytes(StandardCharsets.UTF_8)
        out.writeByte('Q'); out.writeInt(4 + b.length); out.write(b); out.flush()
        untilReady()
      }
      // DataRow payload → column strings (null → "NULL")
      def cols(body: Array[Byte]): Seq[String] = {
        val d = new DataInputStream(new java.io.ByteArrayInputStream(body))
        (0 until d.readShort().toInt).map { _ =>
          val n = d.readInt()
          if (n < 0) "NULL"
          else { val b = new Array[Byte](n); d.readFully(b); new String(b, StandardCharsets.UTF_8) }
        }
      }

      // SSLRequest is declined with 'N', connection continues plaintext
      out.writeInt(8); out.writeInt(80877103); out.flush()
      assert(in.read() == 'N'.toInt)
      // StartupMessage v3 with user/database params
      val params = "user\u0000graft\u0000database\u0000graft\u0000\u0000"
        .getBytes(StandardCharsets.UTF_8)
      out.writeInt(8 + params.length); out.writeInt(196608); out.write(params); out.flush()
      val hello = untilReady()
      assert(hello.head._1 == 'R' &&
        java.nio.ByteBuffer.wrap(hello.head._2).getInt == 0) // AuthenticationOk
      assert(hello.exists(_._1 == 'S')) // ParameterStatus
      assert(hello.last._2.headOption.contains('I'.toByte)) // ReadyForQuery idle

      val r1 = query("select 1 as one, 'x' as s, null as n")
      assert(r1.map(_._1) == Seq('T', 'D', 'C', 'Z'))
      assert(cols(r1(1)._2) == Seq("1", "x", "NULL"))
      assert(new String(r1(2)._2, StandardCharsets.UTF_8).startsWith("SELECT 1"))

      // multi-statement buffer: DDL tag, then rows; ';' inside a string
      // literal must NOT split
      val r2 = query("create table pgw(v int not null); " +
        "insert into pgw values (1), (2); select v, 'a;b' as s from pgw order by v")
      val tags = r2.collect { case ('C', b) => new String(b, StandardCharsets.UTF_8).takeWhile(_ != '\u0000') }
      assert(tags.head == "CREATE" && tags(1).startsWith("INSERT"))
      val dataRows = r2.collect { case ('D', b) => cols(b) }
      assert(dataRows == Seq(Seq("1", "a;b"), Seq("2", "a;b")))

      // error → ErrorResponse, then the connection stays usable
      val r3 = query("select nope from pgw")
      assert(r3.exists(_._1 == 'E') && r3.last._1 == 'Z')
      assert(cols(query("select count(*) as c from pgw")(1)._2) == Seq("2"))

      // DML RETURNING renders rows (RowDescription + DataRows) and the
      // tag counts them pg-style; plain DML keeps the count-only tag
      val rr = query("insert into pgw values (7), (8) returning v * 2 as v2")
      assert(rr.map(_._1) == Seq('T', 'D', 'D', 'C', 'Z'), rr.map(_._1).mkString)
      assert(rr.collect { case ('D', b) => cols(b) }.toSet == Set(Seq("14"), Seq("16")))
      assert(new String(rr(3)._2, StandardCharsets.UTF_8).startsWith("INSERT 0 2"))
      val rd = query("delete from pgw where v >= 7 returning v")
      assert(rd.collect { case ('D', b) => cols(b) }.toSet == Set(Seq("7"), Seq("8")))
      assert(new String(rd.collectFirst { case ('C', b) => b }.get,
        StandardCharsets.UTF_8).startsWith("DELETE 2"))

      // array cells render as pg array literals ({..}, array-out quoting)
      // and RowDescription declares the element's array oid, so typed
      // drivers parse them
      val ra = query("select array(1, 2, cast(null as int)) as xs, " +
        "array('a b', 'c,{}', '', 'NULL', 'q\"w', 'ok') as ss, " +
        "array(array(1, 2), array(3)) as nested")
      assert(ra.map(_._1) == Seq('T', 'D', 'C', 'Z'), ra.map(_._1).mkString)
      def rdOids(body: Array[Byte]): Seq[Int] = {
        val d = new DataInputStream(new java.io.ByteArrayInputStream(body))
        (0 until d.readShort().toInt).map { _ =>
          while (d.readByte() != 0) {}   // field name cstr
          d.readInt(); d.readShort()     // table oid / attnum
          val oid = d.readInt()
          d.readShort(); d.readInt(); d.readShort() // typlen/typmod/format
          oid
        }
      }
      assert(rdOids(ra.head._2) == Seq(1007, 1009, 1007),
        rdOids(ra.head._2).mkString(","))
      assert(cols(ra(1)._2) == Seq("{1,2,NULL}",
        "{\"a b\",\"c,{}\",\"\",\"NULL\",\"q\\\"w\",ok}", "{{1,2},{3}}"),
        cols(ra(1)._2).mkString("|"))

      // ---- extended protocol: Parse/Bind/Describe/Execute/Sync ----
      def cs(s: String): Array[Byte] = (s + "\u0000").getBytes(StandardCharsets.UTF_8)
      def frame(tpe: Char)(body: DataOutputStream => Unit): Unit = {
        val buf = new java.io.ByteArrayOutputStream()
        body(new DataOutputStream(buf))
        out.writeByte(tpe); out.writeInt(4 + buf.size); buf.writeTo(out)
      }
      // Parse a parameterized query as named statement "st1"
      frame('P') { d =>
        d.write(cs("st1")); d.write(cs("select v, 'p;q' as s from pgw where v >= $1 order by v"))
        d.writeShort(0) // no declared param types
      }
      // Describe the statement: ParameterDescription + RowDescription
      frame('D') { d => d.writeByte('S'); d.write(cs("st1")) }
      // Bind $1="2" (text format) to the unnamed portal, then Execute + Sync
      frame('B') { d =>
        d.write(cs("")); d.write(cs("st1"))
        d.writeShort(0)                       // param format codes: default text
        d.writeShort(1)                       // one parameter
        val v = "2".getBytes(StandardCharsets.UTF_8)
        d.writeInt(v.length); d.write(v)
        d.writeShort(0)                       // result format codes: default
      }
      frame('D') { d => d.writeByte('P'); d.write(cs("")) }
      frame('E') { d => d.write(cs("")); d.writeInt(0) }
      frame('S')(_ => ())
      out.flush()
      val ext = untilReady()
      assert(ext.map(_._1) == Seq('1', 't', 'T', '2', 'T', 'D', 'C', 'Z'),
        ext.map(_._1).mkString)
      // ParameterDescription: one param, oid 25 (text)
      val pd = java.nio.ByteBuffer.wrap(ext(1)._2)
      assert(pd.getShort == 1 && pd.getInt == 25)
      assert(cols(ext(5)._2) == Seq("2", "p;q"))
      assert(new String(ext(6)._2, StandardCharsets.UTF_8).startsWith("SELECT 1"))

      // a text parameter with backslashes round-trips byte-identical:
      // the bind renders a standard-conforming literal and the engine's
      // conformLiterals pass owns the Spark escaping (r17) — neither
      // drops nor doubles a backslash
      frame('P') { d =>
        d.write(cs("stbs")); d.write(cs("select $1 as p")); d.writeShort(0)
      }
      frame('B') { d =>
        d.write(cs("")); d.write(cs("stbs"))
        d.writeShort(0); d.writeShort(1)
        val v = "C:\\temp\\new ''quoted''".getBytes(StandardCharsets.UTF_8)
        d.writeInt(v.length); d.write(v)
        d.writeShort(0)
      }
      frame('E') { d => d.write(cs("")); d.writeInt(0) }
      frame('S')(_ => ())
      out.flush()
      val bs = untilReady()
      val bsRow = bs.find(_._1 == 'D').map(m => cols(m._2))
      assert(bsRow.contains(Seq("C:\\temp\\new ''quoted''")),
        s"backslash param corrupted: $bsRow")

      // error inside a batch: messages after the failure are discarded
      // until Sync, which restores ReadyForQuery
      frame('P') { d => d.write(cs("")); d.write(cs("select nope from pgw")); d.writeShort(0) }
      frame('B') { d => d.write(cs("")); d.write(cs("")); d.writeShort(0); d.writeShort(0); d.writeShort(0) }
      frame('D') { d => d.writeByte('P'); d.write(cs("")) }
      frame('E') { d => d.write(cs("")); d.writeInt(0) }
      frame('S')(_ => ())
      out.flush()
      val bad = untilReady()
      // Parse and Bind succeed (no analysis yet); Describe falls back to
      // NoData on the analysis failure; Execute surfaces ErrorResponse;
      // everything after is discarded until Sync restores ReadyForQuery
      assert(bad.map(_._1) == Seq('1', '2', 'n', 'E', 'Z'),
        bad.map(_._1).mkString)
      // ---- COPY subprotocol: FROM STDIN spools to the engine, TO STDOUT
      // streams back ----
      assert(query("create table pgc(v int not null, s varchar)")
        .exists(_._1 == 'C'))
      def run_copy_in(): Unit = {
        val q = ("copy pgc from stdin\u0000").getBytes(StandardCharsets.UTF_8)
        out.writeByte('Q'); out.writeInt(4 + q.length); out.write(q); out.flush()
        val (g, gBody) = readMsg()
        assert(g == 'G') // CopyInResponse: text format, 2 columns
        val gb = java.nio.ByteBuffer.wrap(gBody)
        assert(gb.get == 0.toByte && gb.getShort == 2)
        // optionless COPY speaks pg TEXT format: tab-separated, \N nulls
        val data = "10\tx\n11\ty\n".getBytes(StandardCharsets.UTF_8)
        out.writeByte('d'); out.writeInt(4 + data.length); out.write(data)
        out.writeByte('c'); out.writeInt(4); out.flush()
        val fin = untilReady()
        assert(fin.collect { case ('C', b) =>
          new String(b, StandardCharsets.UTF_8).takeWhile(_ != '\u0000') }
          .exists(_.startsWith("COPY")), fin.map(_._1).mkString)
      }
      run_copy_in()
      assert(cols(query("select count(*) as c from pgc")(1)._2) == Seq("2"))
      // INSERT tag carries the affected-row count, not the result-row count
      val ins3 = query("insert into pgc values (12,'z'), (13,'w'), (14,'u')")
      assert(ins3.collect { case ('C', b) =>
        new String(b, StandardCharsets.UTF_8) }.exists(_.startsWith("INSERT 0 3")))
      // psql's WITH (...) option tail parses; headers collapse to one line
      val coH = query("copy pgc to stdout with (format csv, header true)")
      val headed = coH.collect { case ('d', b) =>
        new String(b, StandardCharsets.UTF_8) }.mkString
      assert(headed.linesIterator.count(_ == "v,s") == 1, headed)
      // optionless COPY TO STDOUT emits pg TEXT format (tab-separated)
      val co = query("copy pgc to stdout")
      assert(co.map(_._1).startsWith(Seq('H')), co.map(_._1).mkString)
      val copied = co.collect { case ('d', b) =>
        new String(b, StandardCharsets.UTF_8) }.mkString
      assert(copied.linesIterator.toSet ==
        Set("10\tx", "11\ty", "12\tz", "13\tw", "14\tu"), copied)
      assert(co.exists { case (t, b) =>
        t == 'C' && new String(b, StandardCharsets.UTF_8).startsWith("COPY") })
      // COPY (query) TO STDOUT exports an arbitrary result (pg surface);
      // nested parens inside the query stay payload
      val coq = query(
        "copy (select v from pgc where v in (13, 14) order by v) to stdout")
      assert(coq.map(_._1).startsWith(Seq('H')), coq.map(_._1).mkString)
      val qcopied = coq.collect { case ('d', b) =>
        new String(b, StandardCharsets.UTF_8) }.mkString
      assert(qcopied.linesIterator.toSet == Set("13", "14"), qcopied)
      // SQL-level cursors render rows over the wire with pg's FETCH tag
      // (FETCH is in isRowReturning — rows must not be swallowed)
      assert(query("declare sc cursor for select v from pgc order by v")
        .exists(_._1 == 'C'))
      val f1 = query("fetch 2 from sc")
      assert(f1.count(_._1 == 'D') == 2, f1.map(_._1).mkString)
      assert(f1.collect { case ('C', b) =>
        new String(b, StandardCharsets.UTF_8) }.exists(_.startsWith("FETCH 2")))
      // extended-protocol Describe of a FETCH must be side-effect-free:
      // NoData (not a planned-and-executed RowDescription), and the
      // cursor must NOT advance — the next FETCH still sees row 3
      frame('P') { d => d.write(cs("")); d.write(cs("fetch 1 from sc")); d.writeShort(0) }
      frame('D') { d => d.writeByte('S'); d.write(cs("")) }
      frame('S')(_ => ())
      out.flush()
      val desc = untilReady()
      assert(desc.map(_._1).contains('n'), desc.map(_._1).mkString)
      val f2 = query("fetch 1 from sc")
      assert(cols(f2.collect { case ('D', b) => b }.head) == Seq("12"), f2)
      assert(query("close sc").exists(_._1 == 'C'))

      // statement with NO params round-trips through extended flow too
      frame('P') { d => d.write(cs("")); d.write(cs("select count(*) from pgw")); d.writeShort(0) }
      frame('B') { d => d.write(cs("")); d.write(cs("")); d.writeShort(0); d.writeShort(0); d.writeShort(0) }
      frame('E') { d => d.write(cs("")); d.writeInt(0) }
      frame('S')(_ => ())
      out.flush()
      val cnt = untilReady()
      assert(cols(cnt.collect { case ('D', b) => b }.head) == Seq("2"))

      // Terminate closes cleanly
      out.writeByte('X'); out.writeInt(4); out.flush()
      assert(in.read() == -1)
    } finally {
      sock.close()
      server.close()
    }
  }

  test("line protocol: a lone ';' clears the buffer; \\commands stay reachable") {
    val dir = freshDir("/root/repo/target/graft-tmp/lonesemi-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-semi-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new Socket("127.0.0.1", server.getLocalPort)
    try {
      c.setSoTimeout(120000)
      val out = new PrintWriter(new java.io.OutputStreamWriter(
        c.getOutputStream, StandardCharsets.UTF_8), true)
      val in = new BufferedReader(new InputStreamReader(
        c.getInputStream, StandardCharsets.UTF_8))
      def send(stmt: String): Seq[String] = {
        out.println(stmt)
        val lines = collection.mutable.Buffer[String]()
        var l = in.readLine()
        while (l != null && !l.startsWith("OK ") && !l.startsWith("ERR ")) {
          lines += l; l = in.readLine()
        }
        lines += l
        lines.toSeq
      }
      assert(send("create table lsv(v int);").last == "OK 0")
      // an empty-statement line must CLEAR the line buffer (it used to
      // linger, gluing itself onto the next statement and disabling
      // \commands and \q for the rest of the session)
      out.println(";")
      val dt = send("\\dt")
      assert(dt.exists(_.contains("lsv")) && dt.last.startsWith("OK "),
        dt.toString)
      assert(send("select count(*) from lsv;") == Seq("0", "OK 1"))
      out.println(";")
      out.println("\\q") // must terminate the session, not buffer
      assert(in.readLine() == null, "\\q after ';' did not quit")
    } finally {
      c.close()
      server.close()
    }
  }

  test("per-session temp namespace: same-named temps, no collision, gone on disconnect") {
    val dir = freshDir("/root/repo/target/graft-tmp/temps-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-temps-spec")
    acceptor.setDaemon(true)
    acceptor.start()

    def connect(): (Socket, PrintWriter, BufferedReader) = {
      val c = new Socket("127.0.0.1", server.getLocalPort)
      c.setSoTimeout(120000)
      (c, new PrintWriter(new java.io.OutputStreamWriter(
        c.getOutputStream, StandardCharsets.UTF_8), true),
        new BufferedReader(new InputStreamReader(
          c.getInputStream, StandardCharsets.UTF_8)))
    }
    def send(out: PrintWriter, in: BufferedReader, stmt: String): Seq[String] = {
      out.println(stmt)
      val lines = collection.mutable.Buffer[String]()
      var l = in.readLine()
      while (l != null && !l.startsWith("OK ") && !l.startsWith("ERR ")) {
        lines += l; l = in.readLine()
      }
      lines += l
      lines.toSeq
    }
    val (c1, o1, i1) = connect()
    val (c2, o2, i2) = connect()
    try {
      // a permanent table both sessions can see
      assert(send(o1, i1, "create table perm(v int);").last == "OK 0")
      // same-named temp tables on two connections: no collision, and
      // each session reads its OWN rows
      assert(send(o1, i1, "create temp table scratch(v int);").last == "OK 0")
      assert(send(o2, i2, "create temp table scratch(v varchar);").last == "OK 0")
      assert(send(o1, i1, "insert into scratch values (1), (2);").last == "OK 1")
      assert(send(o2, i2, "insert into scratch values ('a');").last == "OK 1")
      assert(send(o1, i1, "select count(*) from scratch;") == Seq("2", "OK 1"))
      assert(send(o2, i2, "select v from scratch;") == Seq("a", "OK 1"))
      // a temp table SHADOWS a same-named permanent one (pg temp schema
      // resolves first); the other session still reads the permanent
      assert(send(o1, i1, "insert into perm values (10);").last == "OK 1")
      assert(send(o1, i1, "create temp table perm(v int);").last == "OK 0")
      assert(send(o1, i1, "select count(*) from perm;") == Seq("0", "OK 1"))
      assert(send(o2, i2, "select count(*) from perm;") == Seq("1", "OK 1"))
      // \dt shows the owner's temps under their alias, not the other's
      val dt1 = send(o1, i1, "\\dt")
      assert(dt1.exists(_.contains("scratch")) && !dt1.exists(_.contains("graft_temp")))
      val dt2 = send(o2, i2, "\\dt").filter(_.contains("scratch"))
      assert(dt2.length == 1)
      // temp views work and resolve the session's own temp tables
      assert(send(o1, i1,
        "create temp view sv as select v * 10 as w from scratch;").last == "OK 0")
      assert(send(o1, i1, "select sum(w) from sv;") == Seq("30", "OK 1"))
      // DISCARD TEMP drops session 2's temp; session 1 unaffected
      assert(send(o2, i2, "discard temp;").last == "OK 0")
      assert(send(o2, i2, "select count(*) from scratch;").last.startsWith("ERR "))
      assert(send(o1, i1, "select count(*) from scratch;") == Seq("2", "OK 1"))
      // disconnect drops session 1's temps; a fresh connection sees none
      c1.close()
      Thread.sleep(500) // teardown runs on the connection thread
      val (c3, o3, i3) = connect()
      try {
        assert(send(o3, i3, "select count(*) from scratch;").last.startsWith("ERR "))
        // the permanent table survives, un-shadowed
        assert(send(o3, i3, "select count(*) from perm;") == Seq("1", "OK 1"))
        val dt3 = send(o3, i3, "\\dt")
        assert(!dt3.exists(l => l.contains("scratch") || l.contains("graft_temp")))
      } finally c3.close()
    } finally {
      c2.close()
      server.close()
    }
  }

  test("review fixes: now() never caches, temp prefix reserved, orphan sweep") {
    val dir = freshDir("/root/repo/target/graft-tmp/review-warehouse")
    val engine = new Engine(spark, dir)
    // a time-dependent plan must never be memoized: Catalyst marks
    // now()/current_timestamp deterministic (folded once per execution),
    // so a cached plan would pin the first clock reading forever
    val t1 = engine.run("select cast(now() as string) as t, 1 as k")
      .collect()(0).getString(0)
    Thread.sleep(5)
    val t2 = engine.run("select cast(now() as string) as t, 1 as k")
      .collect()(0).getString(0)
    assert(t1 != t2, "repeated now() served a cached clock reading")
    // the mangled temp prefix is engine-reserved: a user cannot squat on
    // it, and one session cannot touch another's temp objects directly
    val ex = intercept[Exception](
      engine.run("create table graft_temp_9999_x(a int)"))
    assert(ex.getMessage.contains("temporary object of another session"),
      ex.getMessage)
    // the WHOLE prefix is reserved, case-insensitively (Spark resolves
    // identifiers case-insensitively) — non-numeric and uppercase
    // spellings must refuse too, or the restart sweep could eat them
    intercept[Exception](engine.run("create table graft_temp_data(v int)"))
    intercept[Exception](engine.run("create table GRAFT_TEMP_1_T(v int)"))
    val s1 = engine.newSession()
    engine.run("create temp table sweepme(v int)", s1)
    engine.run("insert into sweepme values (1)", s1)
    val mangled = s"graft_temp_${s1.id}_sweepme"
    val ex2 = intercept[Exception](engine.run(s"drop table $mangled"))
    assert(ex2.getMessage.contains("temporary object of another session"))
    // pg parity: a permanent view or matview over a temp table is
    // refused (its stored body would outlive the session's objects);
    // a TEMP view over the same table works
    val exv = intercept[Exception](
      engine.run("create view pv as select * from sweepme", s1))
    assert(exv.getMessage.contains("permanent view over temporary"),
      exv.getMessage)
    val exm = intercept[Exception](
      engine.run("create materialized view pmv as select count(*) as n from sweepme", s1))
    assert(exm.getMessage.contains("permanent materialized view over temporary"),
      exm.getMessage)
    engine.run("create temp view tv as select v * 2 as w from sweepme", s1)
    assert(engine.run("select sum(w) from tv", s1).collect()(0).getLong(0) == 2L)
    // crash (no closeSession): a NEW engine over the same warehouse
    // sweeps the orphaned temp object instead of resurrecting it
    val engine2 = new Engine(spark, dir)
    val listed = engine2.run("select tablename from pg_tables")
      .collect().map(_.getString(0)).toSet
    assert(!listed.exists(_.startsWith("graft_temp_")), listed.toString)
    val ex3 = intercept[Exception](engine2.run(s"select * from $mangled"))
    assert(ex3.getMessage.contains("temporary object of another session") ||
      ex3.getMessage.toLowerCase.contains("cannot be found") ||
      ex3.getMessage.toLowerCase.contains("not found"), ex3.getMessage)
  }

  test("prepared EXECUTE loop reuses the cached plan; any commit invalidates") {
    val dir = freshDir("/root/repo/target/graft-tmp/plancache-warehouse")
    val engine = new Engine(spark, dir)
    engine.run("create table pc(v int)")
    engine.run("insert into pc values (1), (2), (3)")
    engine.run("prepare pq as select sum(v) as s from pc where v >= $1")
    val h0 = engine.planCacheHits.get
    assert(engine.run("execute pq(2)").collect()(0).getLong(0) == 5L)
    assert(engine.run("execute pq(2)").collect()(0).getLong(0) == 5L)
    assert(engine.run("execute pq(2)").collect()(0).getLong(0) == 5L)
    assert(engine.planCacheHits.get >= h0 + 2,
      "repeated EXECUTE did not reuse the cached plan")
    // a commit invalidates: the next EXECUTE re-plans and sees new data
    engine.run("insert into pc values (10)")
    val h1 = engine.planCacheHits.get
    assert(engine.run("execute pq(2)").collect()(0).getLong(0) == 15L)
    assert(engine.planCacheHits.get == h1, "served a stale plan after a commit")
    // DDL between EXECUTEs invalidates too
    assert(engine.run("execute pq(2)").collect()(0).getLong(0) == 15L)
    engine.run("alter table pc add column w int")
    val h2 = engine.planCacheHits.get
    assert(engine.run("execute pq(2)").collect()(0).getLong(0) == 15L)
    assert(engine.planCacheHits.get == h2, "served a stale plan after DDL")
    // different arguments are different entries, both correct
    assert(engine.run("execute pq(10)").collect()(0).getLong(0) == 10L)
    // nondeterministic statements never cache: fresh draw each run
    val a = engine.run("select rand() as r").collect()(0).getDouble(0)
    val b = engine.run("select rand() as r").collect()(0).getDouble(0)
    assert(a != b, "nondeterministic statement drew the same value twice")
  }

  test("pgwire CancelRequest kills the running statement; session survives") {
    val dir = freshDir("/root/repo/target/graft-tmp/cancel-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-cancel-spec")
    acceptor.setDaemon(true)
    acceptor.start()

    val c = new PgClient(server.getLocalPort)
    try {
      val (pid, secret) = c.startup()
      // a deliberately huge scan (~100 G rows) on a worker thread — far
      // longer than the cancel latency, bounded if cancel ever breaks
      val outcome = new java.util.concurrent.atomic.AtomicReference[Seq[Char]]
      val runner = new Thread(() => outcome.set(
        // sum(id*id) defeats the count-over-Range constant fold — the scan
        // really runs (~100 G rows, far longer than the cancel latency)
        c.query("select sum(id * id) from range(100000000000)").map(_._1)))
      runner.start()
      Thread.sleep(1500) // let the job actually start
      // cancel arrives on its OWN connection carrying the key, per spec
      val c2 = new Socket("127.0.0.1", server.getLocalPort)
      val o2 = new java.io.DataOutputStream(c2.getOutputStream)
      o2.writeInt(16); o2.writeInt(80877102); o2.writeInt(pid); o2.writeInt(secret)
      o2.flush(); c2.close()
      runner.join(90000)
      assert(!runner.isAlive, "statement did not terminate after cancel")
      assert(outcome.get.contains('E'), s"expected ErrorResponse, got ${outcome.get}")
      assert(outcome.get.last == 'Z') // ReadyForQuery after the error
      // the session is still usable
      val again = c.query("select 41 + 1 as x")
      assert(again.map(_._1) == Seq('T', 'D', 'C', 'Z'))
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire COPY TEXT round-trips nulls, tabs, newlines, backslashes") {
    val dir = freshDir("/root/repo/target/graft-tmp/copytext-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-copytext-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      c.query("create table txt(v int not null, s varchar)")
      // bare `psql \copy t from f` — COPY ... FROM STDIN with no options →
      // pg TEXT format. Payload: escaped tab, \N null, escaped newline,
      // escaped backslash (wire bytes shown as Scala escapes).
      val q = ("copy txt from stdin\u0000").getBytes(StandardCharsets.UTF_8)
      c.out.writeByte('Q'); c.out.writeInt(4 + q.length); c.out.write(q); c.out.flush()
      assert(c.readMsg()._1 == 'G')
      val data = ("1\ta\\tb\n" +          // field with a real tab in it
                  "2\t\\N\n" +            // NULL
                  "3\tline\\nbreak\n" +   // field with a real newline
                  "4\tback\\\\slash\n" +  // field with a real backslash
                  "\\.\n")                // legacy end marker, ignored
        .getBytes(StandardCharsets.UTF_8)
      c.out.writeByte('d'); c.out.writeInt(4 + data.length); c.out.write(data)
      c.out.writeByte('c'); c.out.writeInt(4); c.out.flush()
      val fin = c.untilReady()
      assert(fin.exists { case (t, b) =>
        t == 'C' && new String(b, StandardCharsets.UTF_8).startsWith("COPY 4") },
        fin.map(_._1).mkString)

      def col2(body: Array[Byte]): (String, Option[String]) = {
        val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(body))
        d.readShort()
        def field(): Option[String] = {
          val n = d.readInt()
          if (n < 0) None
          else { val b = new Array[Byte](n); d.readFully(b)
            Some(new String(b, StandardCharsets.UTF_8)) }
        }
        (field().get, field())
      }
      val rows = c.query("select v, s from txt order by v")
        .collect { case ('D', b) => col2(b) }
      assert(rows == Seq(
        ("1", Some("a\tb")), ("2", None),
        ("3", Some("line\nbreak")), ("4", Some("back\\slash"))), rows)

      // COPY TO STDOUT re-encodes the same escapes
      val outLines = c.query("copy txt to stdout")
        .collect { case ('d', b) => new String(b, StandardCharsets.UTF_8) }
        .mkString.linesIterator.toSet
      assert(outLines == Set("1\ta\\tb", "2\t\\N", "3\tline\\nbreak",
        "4\tback\\\\slash"), outLines)
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire COPY BINARY round-trips typed data both directions") {
    val dir = freshDir("/root/repo/target/graft-tmp/copybin-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-copybin-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      val cols = "i int, l bigint, d double, s varchar, bo boolean, " +
        "dt date, n decimal(10,2)"
      c.query(s"create table bin1($cols)")
      c.query("insert into bin1 values " +
        "(1, 10000000000, 1.5, 'a\tb', true, date '2024-03-05', 12.34), " +
        "(NULL, NULL, NULL, NULL, NULL, NULL, NULL)")

      // COPY OUT binary: CopyOutResponse announces format 1, the first
      // CopyData opens with the PGCOPY signature, the tag counts tuples
      val q = ("copy bin1 to stdout (format binary) ")
        .getBytes(StandardCharsets.UTF_8)
      c.out.writeByte('Q'); c.out.writeInt(4 + q.length); c.out.write(q)
      c.out.flush()
      val h = c.readMsg()
      assert(h._1 == 'H' && h._2(0) == 1, s"${h._1} fmt=${h._2(0)}")
      val payload = new java.io.ByteArrayOutputStream()
      var m = c.readMsg()
      while (m._1 == 'd') { payload.write(m._2); m = c.readMsg() }
      assert(m._1 == 'c', m._1.toString)
      val fin = c.untilReady()
      assert(fin.exists { case (t, b) =>
        t == 'C' && new String(b, StandardCharsets.UTF_8).startsWith("COPY 2")
      }, fin.map(_._1).mkString)
      val bytes = payload.toByteArray
      assert(new String(bytes.take(7), StandardCharsets.UTF_8) == "PGCOPY\n")

      // feed the captured stream back: COPY IN binary into a clone
      c.query(s"create table bin2($cols)")
      val q2 = ("copy bin2 from stdin (format binary) ")
        .getBytes(StandardCharsets.UTF_8)
      c.out.writeByte('Q'); c.out.writeInt(4 + q2.length); c.out.write(q2)
      c.out.flush()
      assert(c.readMsg()._1 == 'G')
      c.out.writeByte('d'); c.out.writeInt(4 + bytes.length); c.out.write(bytes)
      c.out.writeByte('c'); c.out.writeInt(4); c.out.flush()
      val fin2 = c.untilReady()
      assert(fin2.exists { case (t, b) =>
        t == 'C' && new String(b, StandardCharsets.UTF_8).startsWith("COPY 2")
      }, fin2.map(_._1).mkString)

      def one(sql: String): String = new String(
        c.query(sql).collectFirst { case ('D', b) => b }.get.drop(6),
        StandardCharsets.UTF_8)
      assert(one("select count(*) from bin2") == "2")
      assert(one("select count(*) from " +
        "(select * from bin1 except select * from bin2)") == "0")
      assert(one("select count(*) from " +
        "(select * from bin2 except select * from bin1)") == "0")
      // typed content survived exactly (tab in the string, decimal scale)
      assert(one("select s from bin2 where i = 1") == "a\tb")
      assert(one("select n from bin2 where i = 1") == "12.34")
      assert(one("select dt from bin2 where i = 1") == "2024-03-05")
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire streams results: rows reach the client before a late failure") {
    val dir = freshDir("/root/repo/target/graft-tmp/stream-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-stream-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      // partition 0 of range(0,8000,1,8) holds ids 0..999, all passing;
      // partition 1 raises. A collect-then-send server would deliver ONLY
      // an ErrorResponse; the streaming server delivers partition 0's rows
      // first — the observable proof that results never materialize as
      // one driver-side array.
      val r = c.query(
        "select id, assert_true(id < 1000) as ok from range(0, 8000, 1, 8)")
      val kinds = r.map(_._1)
      assert(kinds.head == 'T', kinds.take(5).mkString)
      val nRows = kinds.count(_ == 'D')
      assert(nRows >= 500, s"expected early rows before the failure, got $nRows")
      assert(kinds.contains('E') && kinds.last == 'Z', kinds.mkString)
      // session stays usable after the mid-stream failure
      assert(c.query("select 1 as x").map(_._1) == Seq('T', 'D', 'C', 'Z'))
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire renders timestamps in the session zone, not the JVM default") {
    val dir = freshDir("/root/repo/target/graft-tmp/tz-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-tz-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    val prevTz = java.util.TimeZone.getDefault
    try {
      c.startup()
      // skew the JVM default away from the UTC session zone: rendering
      // must follow spark.sql.session.timeZone (pg shows timestamps in
      // the session's TimeZone), so the literal comes back unshifted
      java.util.TimeZone.setDefault(
        java.util.TimeZone.getTimeZone("America/New_York"))
      val r = c.query("select timestamp '2024-06-01 12:34:56' as ts")
      val rendered = r.collect { case ('D', b) =>
        val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
        d.readShort(); val n = d.readInt()
        val bytes = new Array[Byte](n); d.readFully(bytes)
        new String(bytes, StandardCharsets.UTF_8)
      }.head
      assert(rendered == "2024-06-01 12:34:56", rendered)
    } finally {
      java.util.TimeZone.setDefault(prevTz)
      c.close()
      server.close()
    }
  }

  test("pgwire portal suspends on Execute maxRows and resumes across messages") {
    val dir = freshDir("/root/repo/target/graft-tmp/portal-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-portal-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      c.parse("", "select id from range(0, 5) order by id")
      c.bind("", "")
      // fetch 2 → exactly 2 DataRows then PortalSuspended (pgJDBC
      // setFetchSize speaks exactly this shape)
      c.execute("", 2); c.flushMsg()
      val first = c.untilOutcome()
      assert(first.map(_._1) == Seq('1', '2', 'D', 'D', 's'),
        first.map(_._1).mkString)
      c.execute("", 2); c.flushMsg()
      assert(c.untilOutcome().map(_._1) == Seq('D', 'D', 's'))
      // final fetch drains the remainder; the SELECT tag counts the rows
      // of the COMPLETING Execute (pg semantics), not the lifetime total
      c.execute("", 2); c.flushMsg()
      val last = c.untilOutcome()
      assert(last.map(_._1) == Seq('D', 'C'), last.map(_._1).mkString)
      assert(new String(last.last._2, StandardCharsets.UTF_8).startsWith("SELECT 1"))
      // the rows really were 0..4 in order, one value per fetch step
      // (first two messages carry 0 and 1, etc.) — decode the first one
      val row0 = first.collect { case ('D', b) => b }.head
      val d0 = new java.io.DataInputStream(new java.io.ByteArrayInputStream(row0))
      d0.readShort(); val n0 = d0.readInt()
      val v0 = new Array[Byte](n0); d0.readFully(v0)
      assert(new String(v0, StandardCharsets.UTF_8) == "0")
      // re-executing an exhausted portal returns zero rows + complete
      c.execute("", 0); c.flushMsg()
      assert(c.untilOutcome().map(_._1) == Seq('C'))
      assert(c.sync().map(_._1) == Seq('Z'))
      // session still healthy
      assert(c.query("select 1 as x").map(_._1) == Seq('T', 'D', 'C', 'Z'))
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire: two suspended portals interleave on one session") {
    val dir = freshDir("/root/repo/target/graft-tmp/portal2-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-portal2-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      c.parse("s1", "select id from range(0, 4) order by id")
      c.parse("s2", "select id + 100 as id from range(0, 4) order by id")
      c.bind("pa", "s1")
      c.bind("pb", "s2")
      def rows(ms: Seq[(Char, Array[Byte])]): Seq[String] =
        ms.collect { case ('D', b) =>
          val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
          d.readShort(); val n = d.readInt()
          val v = new Array[Byte](n); d.readFully(v)
          new String(v, StandardCharsets.UTF_8)
        }
      // interleave: each portal keeps ITS OWN spool position
      c.execute("pa", 2); c.flushMsg()
      val a1 = c.untilOutcome()
      assert(a1.map(_._1).endsWith(Seq('s')) && rows(a1) == Seq("0", "1"), a1.map(_._1))
      c.execute("pb", 2); c.flushMsg()
      val b1 = c.untilOutcome()
      assert(b1.last._1 == 's' && rows(b1) == Seq("100", "101"), rows(b1))
      c.execute("pa", 0); c.flushMsg()
      val a2 = c.untilOutcome()
      assert(a2.last._1 == 'C' && rows(a2) == Seq("2", "3"), rows(a2))
      c.execute("pb", 0); c.flushMsg()
      val b2 = c.untilOutcome()
      assert(b2.last._1 == 'C' && rows(b2) == Seq("102", "103"), rows(b2))
      assert(c.sync().map(_._1) == Seq('Z'))
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire binary result formats round-trip int8/float8/text/bytea bit-exactly") {
    val dir = freshDir("/root/repo/target/graft-tmp/binfmt-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-binfmt-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      c.parse("", "select cast(-7 as bigint) as i, cast(2.5 as double) as f, " +
        "'héllo' as s, cast('ab' as binary) as b")
      c.bind("", "", resultFormats = Seq(1)) // one code = all columns binary
      c.describePortal("")
      c.execute("", 0); c.flushMsg()
      val msgs = c.untilOutcome()
      assert(msgs.map(_._1) == Seq('1', '2', 'T', 'D', 'C'), msgs.map(_._1).mkString)
      // RowDescription advertises format 1 for every column
      val rd = msgs.collect { case ('T', b) => b }.head
      val rdd = new java.io.DataInputStream(new java.io.ByteArrayInputStream(rd))
      val ncols = rdd.readShort().toInt
      val fmts = (0 until ncols).map { _ =>
        while (rdd.readByte() != 0) () // skip name
        rdd.readInt(); rdd.readShort(); rdd.readInt(); rdd.readShort(); rdd.readInt()
        rdd.readShort().toInt
      }
      assert(fmts == Seq(1, 1, 1, 1), fmts)
      // DataRow carries network-order binary payloads
      val row = msgs.collect { case ('D', b) => b }.head
      val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(row))
      assert(d.readShort() == 4)
      assert(d.readInt() == 8 && d.readLong() == -7L)
      assert(d.readInt() == 8 && d.readDouble() == 2.5)
      val sLen = d.readInt()
      val sBytes = new Array[Byte](sLen); d.readFully(sBytes)
      assert(new String(sBytes, StandardCharsets.UTF_8) == "héllo")
      val bLen = d.readInt()
      val bBytes = new Array[Byte](bLen); d.readFully(bBytes)
      assert(bBytes.toSeq == "ab".getBytes(StandardCharsets.UTF_8).toSeq)
      assert(c.sync().map(_._1) == Seq('Z'))
      // a type without a binary encoding errors at portal open, clearly
      c.parse("", "select map(1, 2) as a")
      c.bind("", "", resultFormats = Seq(1))
      c.execute("", 0); c.flushMsg()
      val err = c.untilOutcome()
      assert(err.map(_._1) == Seq('1', '2', 'E'), err.map(_._1).mkString)
      assert(c.sync().map(_._1) == Seq('Z'))
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire binary date/timestamp/numeric round-trip bit-exactly") {
    val dir = freshDir("/root/repo/target/graft-tmp/bints-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-bints-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      // results: pg wire representations — date = int4 days since
      // 2000-01-01, timestamp = int8 µs since 2000-01-01, numeric =
      // base-10000 digit groups with sign/weight/dscale header
      c.parse("", "select date '2024-03-01' as d, " +
        "timestamp '2001-02-03 04:05:06.789012' as t, " +
        "cast(-12345.6789 as decimal(12,4)) as n, " +
        "cast(0 as decimal(5,2)) as z")
      c.bind("", "", resultFormats = Seq(1))
      c.execute("", 0); c.flushMsg()
      val msgs = c.untilOutcome()
      assert(msgs.map(_._1) == Seq('1', '2', 'D', 'C'), msgs.map(_._1).mkString)
      val row = msgs.collect { case ('D', b) => b }.head
      val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(row))
      assert(d.readShort() == 4)
      // 2024-03-01 is 8826 days after 2000-01-01
      assert(d.readInt() == 4 && d.readInt() == 8826)
      val wantUs = (java.time.LocalDateTime.parse("2001-02-03T04:05:06.789012")
        .toEpochSecond(java.time.ZoneOffset.UTC) - 946684800L) * 1000000L + 789012L
      assert(d.readInt() == 8 && d.readLong() == wantUs)
      // -12345.6789 → digits [1, 2345, 6789], weight 1, sign 0x4000, dscale 4
      assert(d.readInt() == 8 + 2 * 3)
      assert(d.readShort() == 3 && d.readShort() == 1)
      assert((d.readShort() & 0xffff) == 0x4000 && d.readShort() == 4)
      assert(Seq(d.readShort(), d.readShort(), d.readShort()) == Seq(1, 2345, 6789))
      // zero → canonical empty digit list, weight 0, dscale preserved
      assert(d.readInt() == 8)
      assert(d.readShort() == 0 && d.readShort() == 0)
      assert(d.readShort() == 0 && d.readShort() == 2)
      assert(c.sync().map(_._1) == Seq('Z'))
      // parameters: the same binary forms decode via declared oids
      val pd = java.nio.ByteBuffer.allocate(4).putInt(8826).array()
      val pt = java.nio.ByteBuffer.allocate(8).putLong(wantUs).array()
      val pn = java.nio.ByteBuffer.allocate(8 + 6)
        .putShort(3).putShort(1).putShort(0x4000.toShort).putShort(4)
        .putShort(1).putShort(2345).putShort(6789).array()
      c.parse("", "select $1 as d, $2 as t, $3 as n",
        paramOids = Seq(1082, 1114, 1700))
      c.bind("", "", paramFormats = Seq(1, 1, 1), params = Seq(pd, pt, pn))
      c.execute("", 0); c.flushMsg()
      val back = c.untilOutcome()
      assert(back.map(_._1) == Seq('1', '2', 'D', 'C'), back.map(_._1).mkString)
      val row2 = back.collect { case ('D', b) => b }.head
      val d2 = new java.io.DataInputStream(new java.io.ByteArrayInputStream(row2))
      assert(d2.readShort() == 3)
      def field(): String = {
        val n = d2.readInt(); val b = new Array[Byte](n); d2.readFully(b)
        new String(b, StandardCharsets.UTF_8)
      }
      assert(field() == "2024-03-01")
      assert(field() == "2001-02-03 04:05:06.789012")
      assert(field() == "-12345.6789")
      assert(c.sync().map(_._1) == Seq('Z'))
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire binary parameters decode via declared oids") {
    val dir = freshDir("/root/repo/target/graft-tmp/binparam-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-binparam-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      // int8 + float8 + text params, all sent binary with declared oids
      c.parse("", "select $1 + 1 as i, $2 * 2 as f, $3 as s",
        paramOids = Seq(20, 701, 25))
      val i8 = java.nio.ByteBuffer.allocate(8).putLong(41L).array()
      val f8 = java.nio.ByteBuffer.allocate(8).putDouble(1.25).array()
      val tx = "héllo".getBytes(StandardCharsets.UTF_8)
      c.bind("", "", paramFormats = Seq(1, 1, 1), params = Seq(i8, f8, tx))
      c.execute("", 0); c.flushMsg()
      val msgs = c.untilOutcome()
      assert(msgs.map(_._1) == Seq('1', '2', 'D', 'C'), msgs.map(_._1).mkString)
      val row = msgs.collect { case ('D', b) => b }.head
      val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(row))
      assert(d.readShort() == 3)
      def field(): String = {
        val n = d.readInt(); val b = new Array[Byte](n); d.readFully(b)
        new String(b, StandardCharsets.UTF_8)
      }
      assert(field() == "42")
      assert(field() == "2.5")
      assert(field() == "héllo")
      assert(c.sync().map(_._1) == Seq('Z'))
      // the full scalar codec sweep: bool/int2/int4/float4/date/
      // timestamp/numeric/bytea as bind-time binary parameters
      c.parse("", "select $1 as b, $2 as i2, $3 as i4, $4 as f4, " +
        "$5 as d, $6 as ts, $7 as n, $8 as by",
        paramOids = Seq(16, 21, 23, 700, 1082, 1114, 1700, 17))
      def bb(n: Int)(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
        val b = java.nio.ByteBuffer.allocate(n); f(b); b.array()
      }
      val dateDays = (java.time.LocalDate.of(2024, 3, 5).toEpochDay - 10957L).toInt
      val tsMicros = java.time.LocalDateTime.of(2024, 3, 5, 6, 7, 8, 250000000)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + 250000L -
        946684800L * 1000000L
      // numeric 12345.67 in pg wire form: base-10000 digit groups
      // [1, 2345, 6700], ndigits=3, weight=1, sign=0, dscale=2
      val num = bb(8 + 6) { b =>
        b.putShort(3); b.putShort(1); b.putShort(0); b.putShort(2)
        b.putShort(1); b.putShort(2345); b.putShort(6700)
      }
      c.bind("", "", paramFormats = Seq.fill(8)(1), params = Seq(
        Array[Byte](1),
        bb(2)(_.putShort(123)),
        bb(4)(_.putInt(-7)),
        bb(4)(_.putFloat(2.5f)),
        bb(4)(_.putInt(dateDays)),
        bb(8)(_.putLong(tsMicros)),
        num,
        Array[Byte](0xde.toByte, 0xad.toByte, 0xbe.toByte, 0xef.toByte)))
      c.execute("", 0); c.flushMsg()
      val sweep = c.untilOutcome()
      assert(sweep.map(_._1) == Seq('1', '2', 'D', 'C'), sweep.map(_._1).mkString)
      val srow = sweep.collect { case ('D', b) => b }.head
      val sd = new java.io.DataInputStream(new java.io.ByteArrayInputStream(srow))
      assert(sd.readShort() == 8)
      def sfield(): String = {
        val n = sd.readInt(); val b = new Array[Byte](n); sd.readFully(b)
        new String(b, StandardCharsets.UTF_8)
      }
      assert(sfield() == "t")
      assert(sfield() == "123")
      assert(sfield() == "-7")
      assert(sfield() == "2.5")
      assert(sfield() == "2024-03-05")
      assert(sfield() == "2024-03-05 06:07:08.25")
      assert(sfield() == "12345.67")
      assert(sfield() == "\\xdeadbeef")
      assert(c.sync().map(_._1) == Seq('Z'))
      // binary param with an UNDECLARED oid errors clearly
      c.parse("", "select $1 as x")
      c.bind("", "", paramFormats = Seq(1),
        params = Seq(java.nio.ByteBuffer.allocate(4).putInt(7).array()))
      val err = c.sync()
      assert(err.map(_._1).contains('E'), err.map(_._1).mkString)
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire binary arrays round-trip int4[] and text[] both directions") {
    val dir = freshDir("/root/repo/target/graft-tmp/binarr-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-binarr-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      // OUT: array columns negotiate binary and arrive in pg's array
      // wire layout (ndim / hasnull / element oid / dims / elements)
      c.parse("", "select array(1, 2, cast(null as int)) as xs, " +
        "array('a', 'b c') as ss, array(cast(null as int)) as e0")
      c.bind("", "", resultFormats = Seq(1))
      c.execute("", 0); c.flushMsg()
      val msgs = c.untilOutcome()
      assert(msgs.map(_._1) == Seq('1', '2', 'D', 'C'), msgs.map(_._1).mkString)
      val row = msgs.collect { case ('D', b) => b }.head
      val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(row))
      assert(d.readShort() == 3)
      // xs: int4[] with a trailing NULL
      assert(d.readInt() == 20 + (4 + 4) * 2 + 4)
      assert(d.readInt() == 1 && d.readInt() == 1 && d.readInt() == 23)
      assert(d.readInt() == 3 && d.readInt() == 1)
      assert(d.readInt() == 4 && d.readInt() == 1)
      assert(d.readInt() == 4 && d.readInt() == 2)
      assert(d.readInt() == -1)
      // ss: text[] without nulls
      val ssLen = d.readInt()
      assert(d.readInt() == 1 && d.readInt() == 0 && d.readInt() == 25)
      assert(d.readInt() == 2 && d.readInt() == 1)
      def str(): String = {
        val n = d.readInt(); val b = new Array[Byte](n); d.readFully(b)
        new String(b, StandardCharsets.UTF_8)
      }
      assert(str() == "a" && str() == "b c")
      assert(ssLen == 20 + 4 + 1 + 4 + 3)
      // e0: a single NULL element still has one dim of length 1
      assert(d.readInt() == 20 + 4)
      assert(d.readInt() == 1 && d.readInt() == 1 && d.readInt() == 23)
      assert(d.readInt() == 1 && d.readInt() == 1 && d.readInt() == -1)
      assert(c.sync().map(_._1) == Seq('Z'))
      // IN: the same layouts decode as binary PARAMETERS via the array
      // oids and bind as the pg array text literal
      def i4arr(vals: Seq[Option[Int]]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val o = new java.io.DataOutputStream(bos)
        o.writeInt(1); o.writeInt(if (vals.exists(_.isEmpty)) 1 else 0)
        o.writeInt(23); o.writeInt(vals.length); o.writeInt(1)
        vals.foreach {
          case Some(v) => o.writeInt(4); o.writeInt(v)
          case None => o.writeInt(-1)
        }
        bos.toByteArray
      }
      def txtarr(vals: Seq[String]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val o = new java.io.DataOutputStream(bos)
        o.writeInt(1); o.writeInt(0); o.writeInt(25)
        o.writeInt(vals.length); o.writeInt(1)
        vals.foreach { v =>
          val b = v.getBytes(StandardCharsets.UTF_8)
          o.writeInt(b.length); o.write(b)
        }
        bos.toByteArray
      }
      c.parse("", "select $1 as xs, $2 as ss", paramOids = Seq(1007, 1009))
      c.bind("", "", paramFormats = Seq(1, 1),
        params = Seq(i4arr(Seq(Some(7), None, Some(9))), txtarr(Seq("a", "b c"))))
      c.execute("", 0); c.flushMsg()
      val back = c.untilOutcome()
      assert(back.map(_._1) == Seq('1', '2', 'D', 'C'), back.map(_._1).mkString)
      val row2 = back.collect { case ('D', b) => b }.head
      val d2 = new java.io.DataInputStream(new java.io.ByteArrayInputStream(row2))
      assert(d2.readShort() == 2)
      def field(): String = {
        val n = d2.readInt(); val b = new Array[Byte](n); d2.readFully(b)
        new String(b, StandardCharsets.UTF_8)
      }
      assert(field() == "{7,NULL,9}")
      assert(field() == """{a,"b c"}""")
      assert(c.sync().map(_._1) == Seq('Z'))
      // a payload whose embedded element oid contradicts the declared
      // array type errors cleanly (pg array_recv parity) instead of
      // silently mis-decoding int4 bytes as text
      val bad = {
        val bos = new java.io.ByteArrayOutputStream()
        val o = new java.io.DataOutputStream(bos)
        o.writeInt(1); o.writeInt(0); o.writeInt(25) // claims text elements
        o.writeInt(1); o.writeInt(1)
        o.writeInt(4); o.writeInt(7)
        bos.toByteArray
      }
      c.parse("", "select $1 as xs", paramOids = Seq(1007)) // declared int4[]
      c.bind("", "", paramFormats = Seq(1), params = Seq(bad))
      c.execute("", 0); c.flushMsg()
      val err = c.untilOutcome()
      assert(err.map(_._1).contains('E'), err.map(_._1).mkString)
      assert(c.sync().map(_._1) == Seq('Z'))
    } finally {
      c.close()
      server.close()
    }
  }

  test("pgwire autocommit-off: BEGIN/COMMIT/ROLLBACK with txn status bytes") {
    val dir = freshDir("/root/repo/target/graft-tmp/txn-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-txn-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val c = new PgClient(server.getLocalPort)
    try {
      c.startup()
      def tag(ms: Seq[(Char, Array[Byte])]): String =
        ms.collectFirst { case ('C', b) =>
          new String(b, StandardCharsets.UTF_8).stripSuffix(" ") }.getOrElse("?")
      def status(ms: Seq[(Char, Array[Byte])]): Char =
        ms.last._2.head.toChar // ReadyForQuery payload
      c.query("create table wtx(v int)")
      c.query("insert into wtx values (1)")
      // the pgJDBC autocommit(false) flow: BEGIN, work, ROLLBACK
      val b1 = c.query("BEGIN")
      assert(tag(b1) == "BEGIN" && status(b1) == 'T', s"${tag(b1)} ${status(b1)}")
      val i1 = c.query("insert into wtx values (2)")
      assert(tag(i1) == "INSERT 0 1" && status(i1) == 'T')
      val r1 = c.query("ROLLBACK")
      assert(tag(r1) == "ROLLBACK" && status(r1) == 'I')
      val q1 = c.query("select count(*) from wtx")
      val n1 = q1.collect { case ('D', b) => b }.head
      assert(new String(n1.drop(6), StandardCharsets.UTF_8) == "1")
      // BEGIN, work, COMMIT persists
      c.query("BEGIN")
      c.query("insert into wtx values (3)")
      val cm = c.query("COMMIT")
      assert(tag(cm) == "COMMIT" && status(cm) == 'I')
      // an error mid-transaction flips the status to 'E' (aborted) and
      // COMMIT then reports a rollback happened
      c.query("BEGIN")
      c.query("insert into wtx values (4)")
      val er = c.query("select no_such_column from wtx")
      assert(er.exists(_._1 == 'E') && status(er) == 'E')
      val refused = c.query("insert into wtx values (5)")
      assert(refused.exists(_._1 == 'E') && status(refused) == 'E')
      // pg: COMMIT of an aborted transaction actually rolls back, and
      // the command tag says so
      val cmAb = c.query("COMMIT")
      assert(tag(cmAb) == "ROLLBACK" && status(cmAb) == 'I',
        s"${tag(cmAb)} ${status(cmAb)}")
      val q2 = c.query("select count(*) from wtx")
      val n2 = q2.collect { case ('D', b) => b }.head
      assert(new String(n2.drop(6), StandardCharsets.UTF_8) == "2")
    } finally {
      c.close()
      server.close()
    }
  }

  test("a stalled client draining a big result no longer blocks DML") {
    val dir = freshDir("/root/repo/target/graft-tmp/stall-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-stall-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val stalled = new PgClient(server.getLocalPort)
    val writer = new PgClient(server.getLocalPort)
    try {
      stalled.startup()
      writer.startup()
      writer.query("create table st(v bigint)")
      // a result far larger than kernel socket buffers, sent to a client
      // that reads NOTHING: the server's send blocks on TCP backpressure.
      // Pre-r11 the read lock was held for the whole drain, so the
      // writer's DML below would block until the stalled client drained.
      stalled.out.writeByte('Q')
      val q = "select id, repeat('x', 64) as pad from range(0, 500000) "
        .getBytes(StandardCharsets.UTF_8)
      stalled.out.writeInt(4 + q.length); stalled.out.write(q); stalled.out.flush()
      Thread.sleep(500) // let the statement start producing
      val t0 = System.nanoTime()
      val r = writer.query("insert into st values (1)")
      val insertMs = (System.nanoTime() - t0) / 1e6
      assert(r.map(_._1).contains('C'), r.map(_._1).mkString)
      // the insert must complete while the reader is still stalled —
      // bounded by engine production speed, not the (never-draining)
      // client. Generous bound: well under the stall duration.
      assert(insertMs < 60000, s"insert blocked ${insertMs}ms behind a stalled reader")
      assert(writer.query("select count(*) as c from st").map(_._1) ==
        Seq('T', 'D', 'C', 'Z'))
    } finally {
      stalled.close()
      writer.close()
      server.close()
    }
  }

  test("concurrent clients: parallel reads under the statement lock") {
    val dir = freshDir("/root/repo/target/graft-tmp/conc-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-conc-spec")
    acceptor.setDaemon(true)
    acceptor.start()

    def client[A](body: (String => Seq[String]) => A): A = {
      val c = new Socket("127.0.0.1", server.getLocalPort)
      try {
        c.setSoTimeout(120000)
        val out = new PrintWriter(new java.io.OutputStreamWriter(
          c.getOutputStream, StandardCharsets.UTF_8), true)
        val in = new BufferedReader(new InputStreamReader(
          c.getInputStream, StandardCharsets.UTF_8))
        body { stmt =>
          out.println(stmt)
          val lines = collection.mutable.Buffer[String]()
          var l = in.readLine()
          while (l != null && !l.startsWith("OK ") && !l.startsWith("ERR ")) {
            lines += l; l = in.readLine()
          }
          (lines += l).toSeq
        }
      } finally c.close()
    }

    client { send =>
      assert(send("create table conc(v int not null);").last == "OK 0")
      assert(send("insert into conc values (1), (2), (3);").last == "OK 1")
    }
    // 4 clients × 4 reads each, in parallel — every one must see a
    // consistent table (reads share the lock; no writer interleaves)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (1 to 4).map { id =>
      new Thread(() => {
        try client { send =>
          (1 to 4).foreach { _ =>
            val r = send("select count(*) as c from conc;")
            if (r != Seq("3", "OK 1")) errs.add(s"reader $id got $r")
          }
        } catch { case e: Exception => errs.add(s"reader $id: $e") }
      }, s"conc-reader-$id")
    }
    readers.foreach(_.start())
    readers.foreach(_.join(120000))
    assert(errs.isEmpty, errs.toString)

    // writers interleaving with readers: each INSERT holds the write
    // lock, so every read observes a consistent, monotonically
    // non-decreasing count and the final state has every row
    client(send => assert(send("create table conc2(v int not null);").last == "OK 0"))
    val errs2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writers = (1 to 2).map { id =>
      new Thread(() => {
        try client { send =>
          (1 to 10).foreach { i =>
            val r = send(s"insert into conc2 values (${id * 100 + i});")
            if (r.last != "OK 1") errs2.add(s"writer $id insert $i got $r")
          }
        } catch { case e: Exception => errs2.add(s"writer $id: $e") }
      }, s"conc2-writer-$id")
    }
    val pollers = (1 to 2).map { id =>
      new Thread(() => {
        try client { send =>
          var last = 0L
          (1 to 10).foreach { _ =>
            val r = send("select count(*) as c from conc2;")
            val n = r.head.trim.toLong // malformed → NumberFormatException
            if (n < last) errs2.add(s"poller $id saw count go $last -> $n")
            last = n
          }
        } catch { case e: Exception => errs2.add(s"poller $id: $e") }
      }, s"conc2-poller-$id")
    }
    (writers ++ pollers).foreach(_.start())
    (writers ++ pollers).foreach(_.join(120000))
    assert(errs2.isEmpty, errs2.toString)
    client(send =>
      assert(send("select count(*) as c from conc2;") == Seq("20", "OK 1")))
    server.close()
  }

  test("per-session transactions: two connections roll back independently") {
    val dir = freshDir("/root/repo/target/graft-tmp/sess-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-sess-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val a = new PgClient(server.getLocalPort)
    val b = new PgClient(server.getLocalPort)
    try {
      a.startup(); b.startup()
      def status(ms: Seq[(Char, Array[Byte])]): Char = ms.last._2.head.toChar
      def one(ms: Seq[(Char, Array[Byte])]): String =
        new String(ms.collect { case ('D', bytes) => bytes }.head.drop(6),
          StandardCharsets.UTF_8)
      a.query("create table sta(v int)")
      a.query("create table stb(v int)")
      a.query("insert into sta values (1)")
      // A opens a transaction and touches sta — the txn state is A's
      // alone: B keeps seeing ReadyForQuery status 'I'
      assert(status(a.query("BEGIN")) == 'T')
      assert(status(a.query("insert into sta values (2)")) == 'T')
      assert(status(b.query("select 1")) == 'I',
        "A's open transaction leaked into B's status byte")
      // B's autocommit write to ANOTHER table proceeds and is durable;
      // B's reads are unblocked
      assert(status(b.query("insert into stb values (20)")) == 'I')
      assert(one(b.query("select count(*) from stb")) == "1")
      // B's write to the table A's transaction HOLDS errors NOWAIT
      // (single-writer lock; blocking would deadlock the stmt lock)
      val refused = b.query("insert into sta values (99)")
      assert(refused.exists(_._1 == 'E'), "foreign write was not refused")
      assert(status(refused) == 'I', "autocommit error must not open a txn")
      // B can run its OWN transaction on stb concurrently and commit it
      assert(status(b.query("BEGIN")) == 'T')
      b.query("insert into stb values (21)")
      assert(status(b.query("COMMIT")) == 'I')
      // A's ROLLBACK undoes ONLY A's work: sta back to one row, B's
      // committed stb rows untouched (the round-14 engine-global txn
      // would have erased them had B joined A's block)
      assert(status(a.query("ROLLBACK")) == 'I')
      assert(one(a.query("select count(*) from sta")) == "1")
      assert(one(a.query("select count(*) from stb")) == "2")
      // an error in A's fresh transaction aborts A only
      a.query("BEGIN")
      assert(status(a.query("select nope from sta")) == 'E')
      assert(status(b.query("select 1")) == 'I',
        "A's aborted state leaked into B")
      assert(status(a.query("ROLLBACK")) == 'I')
      // same-named cursors on two connections don't collide
      a.query("BEGIN")
      b.query("BEGIN")
      assert(!a.query("declare cx cursor for select 111 as v")
        .exists(_._1 == 'E'))
      assert(!b.query("declare cx cursor for select 222 as v")
        .exists(_._1 == 'E'), "cursor name collided across sessions")
      assert(one(a.query("fetch cx")) == "111")
      assert(one(b.query("fetch cx")) == "222")
      a.query("COMMIT"); b.query("COMMIT")
      // SQL-level PREPARE is session-scoped like pg: same name, two
      // connections, different bodies — no collision
      assert(!a.query("prepare px as select 7 as v").exists(_._1 == 'E'))
      assert(!b.query("prepare px as select 8 as v").exists(_._1 == 'E'),
        "PREPARE name collided across sessions")
      assert(one(a.query("execute px")) == "7")
      assert(one(b.query("execute px")) == "8")
      // repeatable read over the wire (r15): A's snapshot ignores B's
      // commit; A's write after it is a serialization failure
      a.query("BEGIN ISOLATION LEVEL REPEATABLE READ")
      assert(one(a.query("select count(*) from stb")) == "2") // pin
      b.query("insert into stb values (22)")
      assert(one(b.query("select count(*) from stb")) == "3")
      assert(one(a.query("select count(*) from stb")) == "2",
        "snapshot read saw a foreign commit")
      val serFail = a.query("update stb set v = 0 where v = 20")
      assert(serFail.exists { case (t, m) => t == 'E' &&
        new String(m, StandardCharsets.UTF_8).contains("could not serialize")
      }, "write past the pin must be a serialization failure")
      assert(status(a.query("ROLLBACK")) == 'I')
      assert(one(a.query("select count(*) from stb")) == "3")
      // DISCARD ALL (pool recycle) clears A's prepared statements and
      // cursors without touching B's
      a.query("BEGIN"); a.query("declare cy cursor for select 5 as v")
      a.query("COMMIT")
      assert(!a.query("prepare pd as select 9 as v").exists(_._1 == 'E'))
      assert(!b.query("prepare pd as select 10 as v").exists(_._1 == 'E'))
      assert(!a.query("DISCARD ALL").exists(_._1 == 'E'))
      assert(a.query("execute pd").exists(_._1 == 'E'),
        "DISCARD ALL must drop A's prepared statements")
      assert(a.query("fetch cy").exists(_._1 == 'E'),
        "DISCARD ALL must close A's cursors")
      assert(one(b.query("execute pd")) == "10",
        "DISCARD ALL on A must not touch B's session")
    } finally {
      a.close()
      b.close()
      server.close()
    }
  }

  test("sequence currval is per session; DISCARD SEQUENCES clears only its own") {
    val dir = freshDir("/root/repo/target/graft-tmp/seqsess-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-seqsess-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val a = new PgClient(server.getLocalPort)
    val b = new PgClient(server.getLocalPort)
    try {
      a.startup(); b.startup()
      def one(ms: Seq[(Char, Array[Byte])]): String =
        new String(ms.collect { case ('D', bytes) => bytes }.head.drop(6),
          StandardCharsets.UTF_8)
      a.query("create sequence sq")
      // the SEQUENCE is engine-global (A then B interleave 1, 2) but
      // currval is session state: B's call doesn't move A's
      assert(one(a.query("select nextval('sq')")) == "1")
      assert(one(b.query("select nextval('sq')")) == "2")
      assert(one(a.query("select currval('sq')")) == "1")
      assert(one(b.query("select currval('sq')")) == "2")
      // a session that never called nextval has no currval (pg)
      val c = new PgClient(server.getLocalPort)
      try {
        c.startup()
        assert(c.query("select currval('sq')").exists(_._1 == 'E'),
          "currval must be undefined in a fresh session")
      } finally c.close()
      // DISCARD SEQUENCES (pool recycle) clears A's currval, not B's
      assert(!a.query("DISCARD SEQUENCES").exists(_._1 == 'E'))
      assert(a.query("select currval('sq')").exists(_._1 == 'E'),
        "DISCARD SEQUENCES must clear the session's currval")
      assert(one(b.query("select currval('sq')")) == "2",
        "DISCARD SEQUENCES on A must not touch B")
      // ... and the sequence itself kept its position
      assert(one(a.query("select nextval('sq')")) == "3")
    } finally {
      a.close()
      b.close()
      server.close()
    }
  }

  test("disconnect mid-transaction rolls back, pg semantics") {
    val dir = freshDir("/root/repo/target/graft-tmp/disc-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-disc-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val a = new PgClient(server.getLocalPort)
    val b = new PgClient(server.getLocalPort)
    try {
      a.startup(); b.startup()
      def one(ms: Seq[(Char, Array[Byte])]): String =
        new String(ms.collect { case ('D', bytes) => bytes }.head.drop(6),
          StandardCharsets.UTF_8)
      a.query("create table dt(v int)")
      a.query("insert into dt values (1)")
      a.query("BEGIN")
      a.query("insert into dt values (2)")
      a.close() // vanish without COMMIT — the server must roll back
      // the rollback runs on the session thread's teardown; poll for it
      val deadline = System.nanoTime() + 30e9.toLong
      var n = one(b.query("select count(*) from dt"))
      while (n != "1" && System.nanoTime() < deadline) {
        Thread.sleep(100)
        n = one(b.query("select count(*) from dt"))
      }
      assert(n == "1", s"open txn not rolled back on disconnect (count=$n)")
      // and the table is unlocked for B again
      assert(!b.query("insert into dt values (3)").exists(_._1 == 'E'))
      assert(one(b.query("select count(*) from dt")) == "2")
    } finally {
      b.close()
      server.close()
    }
  }

  test("timestamp text is zone-independent; TimeZone GUC is per session") {
    val dir = freshDir("/root/repo/target/graft-tmp/tz2-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-tz2-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val a = new PgClient(server.getLocalPort)
    val b = new PgClient(server.getLocalPort)
    val c = new PgClient(server.getLocalPort)
    try {
      a.startup(); b.startup()
      def one(ms: Seq[(Char, Array[Byte])]): String =
        new String(ms.collect { case ('D', bytes) => bytes }.head.drop(6),
          StandardCharsets.UTF_8)
      val q = "select timestamp '2024-06-01 12:34:56' as ts"
      // oid 1114 (timestamp WITHOUT time zone): pg renders it identically
      // under ANY TimeZone GUC — a SET must never shift the value a
      // client wrote (the r16 review catch: a session render zone would
      // hand every non-UTC pgJDBC client back a shifted timestamp)
      a.query("SET TimeZone = 'America/New_York'")
      assert(one(a.query(q)) == "2024-06-01 12:34:56",
        "timestamp-without-tz text must not follow the TimeZone GUC")
      assert(one(b.query(q)) == "2024-06-01 12:34:56")
      // ... but the GUC itself IS per session: SHOW answers each
      // connection's own value and B's SET doesn't touch A's
      b.query("SET TIME ZONE 'Asia/Tokyo'")
      assert(one(a.query("SHOW TimeZone")) == "America/New_York")
      assert(one(b.query("SHOW TimeZone")) == "Asia/Tokyo")
      a.query("RESET timezone")
      assert(one(a.query("SHOW TimeZone")) == "UTC")
      assert(one(b.query("SHOW TimeZone")) == "Asia/Tokyo")
      // startup-packet TimeZone (pgJDBC ships it before any SET)
      c.startupWith("TimeZone" -> "Europe/Berlin")
      assert(one(c.query("SHOW TimeZone")) == "Europe/Berlin")
      assert(one(c.query(q)) == "2024-06-01 12:34:56")
      // a bogus zone errors at SET, pg-style, and leaves the session usable
      val bad = a.query("SET TimeZone = 'Not/AZone'")
      assert(bad.exists(_._1 == 'E'), "invalid zone accepted")
      assert(one(a.query("SHOW TimeZone")) == "UTC")
      // non-UTF8 client_encoding is refused (the server only emits UTF-8)
      assert(a.query("SET client_encoding = 'LATIN1'").exists(_._1 == 'E'))
      assert(one(a.query("SHOW client_encoding")) == "UTF8")
      // unset display GUCs answer their pg defaults, not an error
      assert(one(a.query("SHOW application_name")) == "")
      assert(one(a.query("SHOW IntervalStyle")) == "postgres")
    } finally {
      a.close(); b.close(); c.close()
      server.close()
    }
  }

  test("SHOW gucs answer per session; SET TimeZone emits ParameterStatus") {
    val dir = freshDir("/root/repo/target/graft-tmp/show-warehouse")
    val engine = new Engine(spark, dir)
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-show-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val a = new PgClient(server.getLocalPort)
    try {
      a.startup()
      def one(ms: Seq[(Char, Array[Byte])]): String =
        new String(ms.collect { case ('D', bytes) => bytes }.head.drop(6),
          StandardCharsets.UTF_8)
      // pgJDBC probes these two on connect / getTransactionIsolation
      assert(one(a.query("SHOW transaction_isolation")) == "read committed")
      assert(one(a.query("show server_version")).contains("graft"))
      assert(one(a.query("SHOW TimeZone")) == "UTC") // engine default
      // a SET TimeZone answers through SHOW and arrives as
      // ParameterStatus('S', TimeZone) before ReadyForQuery — pgJDBC
      // re-points its timestamp decoder from exactly this message
      val ms = a.query("SET TimeZone = 'Asia/Tokyo'")
      val params = ms.collect { case ('S', b) =>
        val parts = new String(b, StandardCharsets.UTF_8).split("\u0000")
        parts(0) -> parts(1)
      }.toMap
      assert(params.get("TimeZone").contains("Asia/Tokyo"),
        s"no ParameterStatus(TimeZone) after SET: $params")
      assert(one(a.query("SHOW TIME ZONE")) == "Asia/Tokyo")
      // SET SESSION CHARACTERISTICS flips what SHOW reports
      a.query("SET SESSION CHARACTERISTICS AS TRANSACTION ISOLATION LEVEL REPEATABLE READ")
      assert(one(a.query("SHOW transaction_isolation")) == "repeatable read")
      // SHOW TABLES still reaches Spark (the GUC handler must not shadow it)
      engine.run("create table showt(v int)")
      val st = a.query("SHOW TABLES")
      assert(st.exists(_._1 == 'D'), "SHOW TABLES returned no rows")
    } finally {
      a.close()
      server.close()
    }
  }
}
