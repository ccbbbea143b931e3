package graft

import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.engine.Engine

/** Snapshot reads over immutable table versions: a read plans under the
  * shared statement lock, pins the versions it bound and executes with no
  * lock held; plain DML writes its new version beside it and locks only to
  * flip the version pointer. Every wait sits under `failAfter`, so a
  * deadlock fails the test instead of hanging the suite.
  */
class SnapshotReadSpec extends AnyFunSuite with TimeLimits {
  import TestSpark._

  implicit val signaler: Signaler = ThreadSignaler
  private val limit = Span(60, Seconds)

  /** A fresh warehouse directory under the build's `target/graft-tmp`. */
  private def warehouse(name: String): String =
    freshDir(Paths.get("target/graft-tmp", name).toAbsolutePath.toString)

  private def versions(wh: String, table: String): Set[String] = {
    val d = Paths.get(s"$wh/.history/$table")
    if (!Files.isDirectory(d)) Set.empty
    else {
      val st = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("v")).toSet
      } finally st.close()
    }
  }

  /** (count, sum) of every state `t(k, v)` passes through under `ops`. */
  private def states(ops: Seq[String]): Seq[(Long, Long)] = {
    var rows = (1 to 60).map(k => k -> k.toLong).toMap
    def st = (rows.size.toLong, rows.values.sum)
    ops.scanLeft(st) { (_, op) =>
      op match {
        case o if o.startsWith("update") =>
          rows = rows.map { case (k, v) => k -> (if (k <= 30) v + 1 else v) }
        case o if o.startsWith("delete") =>
          val k = o.split("= ").last.toInt
          rows = rows - k
        case _ => // merge: k=10 matched → v=1000; k=300 inserted/updated
          rows = rows.map { case (k, v) => k -> (if (k == 10) 1000L else v) } +
            (300 -> 3000L)
      }
      st
    }
  }

  private def dataRow(msgs: Seq[(Char, Array[Byte])]): Seq[String] =
    msgs.collectFirst { case ('D', b) =>
      val bb = java.nio.ByteBuffer.wrap(b)
      (0 until bb.getShort.toInt).map { _ =>
        val n = bb.getInt
        val a = new Array[Byte](n)
        bb.get(a)
        new String(a, StandardCharsets.UTF_8)
      }
    }.getOrElse(fail(s"no DataRow in ${msgs.map(_._1).mkString}"))

  test("aggregates beside an UPDATE/DELETE/MERGE loop each read one committed state") {
    val dir = warehouse("snapshot-loop-warehouse")
    val engine = new Engine(spark, dir)
    engine.run("create table t(k int, v bigint)")
    (0 until 3).foreach(i => engine.run(
      s"insert into t select cast(id as int), id from range(${i * 20 + 1}, ${i * 20 + 21})"))
    engine.run("create table src(k int, v bigint)")
    engine.run("insert into src values (10, 1000), (300, 3000)")
    val ops = (1 to 4).flatMap(i => Seq(
      "update t set v = v + 1 where k <= 30",
      s"delete from t where k = ${40 + i}",
      "merge into t using src on t.k = src.k when matched then update set v = src.v " +
        "when not matched then insert values (src.k, src.v)"))
    val legal = states(ops).toSet
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-snapshot-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    val writer = new PgClient(server.getLocalPort)
    val reader = new PgClient(server.getLocalPort)
    try {
      writer.startup()
      reader.startup()
      @volatile var writing = true
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val readerThread = new Thread(() => {
        while (writing) {
          val r = dataRow(reader.query("select count(*), sum(v) from t"))
          seen.add((r(0).toLong, r(1).toLong))
        }
      }, "snapshot-reader")
      failAfter(limit) {
        readerThread.start()
        ops.foreach { op =>
          val r = writer.query(op)
          assert(r.exists(_._1 == 'C'), s"$op: ${r.map(_._1).mkString}")
        }
        writing = false
        readerThread.join()
      }
      val reads = seen.toArray.toSeq.map(_.asInstanceOf[(Long, Long)])
      assert(reads.nonEmpty)
      reads.foreach(s => assert(legal(s), s"aggregate $s matches no committed state"))
      // the final state is the model's last one
      val last = dataRow(reader.query("select count(*), sum(v) from t"))
      assert((last(0).toLong, last(1).toLong) == states(ops).last)
    } finally {
      writer.close()
      reader.close()
      server.close()
    }
  }

  test("a reader parked mid-production does not hold up a DML commit") {
    val dir = warehouse("snapshot-park-warehouse")
    val engine = new Engine(spark, dir)
    val a = engine.newSession()
    val b = engine.newSession()
    engine.run("create table p(v bigint)", b)
    (0 until 4).foreach(i =>
      engine.run(s"insert into p select id from range(${i * 1000}, ${(i + 1) * 1000})", b))
    // one scan partition per file, so the reader's later partitions read
    // their files only after the DELETE below has committed
    val confs = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    confs.foreach(spark.conf.set(_, "1024"))
    val it = try engine.run("select v from p", a).toLocalIterator()
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(it.hasNext)
    it.next() // one partition fetched; the rest is still to be produced
    failAfter(limit) {
      assert(engine.run("delete from p where v < 3000", b).collect()(0).getLong(0) == 3000L)
      assert(engine.run("select count(*) from p", b).collect()(0).getLong(0) == 1000L)
    }
    // the parked reader finishes on the version it bound
    var n = 1L
    while (it.hasNext) { it.next(); n += 1 }
    assert(n == 4000L)
    engine.closeSession(a)
    engine.closeSession(b)
  }

  test("a SELECT completes while a DML writer is parked before its commit") {
    val dir = warehouse("snapshot-writer-warehouse")
    val engine = new Engine(spark, dir)
    val w = engine.newSession()
    val r = engine.newSession()
    engine.run("create table q(v bigint)", w)
    engine.run("insert into q select id from range(0, 100)", w)
    val parked = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    engine.beforeCommit = _ => { parked.countDown(); release.await(60, TimeUnit.SECONDS) }
    val writer = new Thread(() => engine.run("update q set v = v + 1000", w), "parked-writer")
    try {
      failAfter(limit) {
        writer.start()
        parked.await()
        // the writer holds the writer lock but not the statement lock
        assert(engine.run("select sum(v) from q", r).collect()(0).getLong(0) == 4950L)
        release.countDown()
        writer.join()
      }
    } finally {
      engine.beforeCommit = _ => ()
      release.countDown()
    }
    assert(engine.run("select sum(v) from q", r).collect()(0).getLong(0) == 4950L + 100000L)
    engine.closeSession(w)
    engine.closeSession(r)
  }

  test("a pinned version survives VACUUM and DROP until its reader ends") {
    val dir = warehouse("snapshot-pin-warehouse")
    val engine = new Engine(spark, dir)
    val a = engine.newSession()
    val b = engine.newSession()
    engine.run("create table g(v bigint)", b)
    engine.run("insert into g select id from range(0, 500)", b)
    val pinned = engine.run("select sum(v) from g", a) // planned on v1
    engine.run("delete from g where v >= 100", b) // v2
    failAfter(limit) {
      // v0 goes now; the pinned v1 is retired, not deleted
      assert(engine.run("vacuum g", b).collect()(0).getLong(0) == 1L)
      assert(versions(dir, "g") == Set("v1", "v2"))
      assertThrows[Exception](engine.run("select * from g version as of 1", b).collect())
      assert(pinned.collect()(0).getLong(0) == (0L until 500L).sum)
      engine.run("select 1", a) // the session's next statement ends the pin
      assert(versions(dir, "g") == Set("v2"))
    }
    // DROP defers the pinned directory the same way
    val again = engine.run("select count(*) from g", a)
    engine.run("drop table g", b)
    assert(versions(dir, "g") == Set("v2"))
    assert(again.collect()(0).getLong(0) == 100L)
    engine.closeSession(a)
    assert(versions(dir, "g").isEmpty)
    engine.closeSession(b)
  }

  test("a table renamed onto a dropped, still-pinned name reads only its own rows") {
    val dir = warehouse("snapshot-rename-warehouse")
    val engine = new Engine(spark, dir)
    val a = engine.newSession()
    val b = engine.newSession()
    engine.run("create table n(v bigint)", b)
    engine.run("insert into n select id from range(0, 10)", b) // n at v1
    val pinned = engine.run("select sum(v) from n", a)
    engine.run("drop table n", b) // n's v1 is retired, not deleted
    engine.run("create table m(v bigint)", b)
    engine.run("insert into m values (100), (101), (102)", b) // m at v1
    engine.run("alter table m rename to n", b)
    def sumOf(sql: String) = engine.run(sql, b).collect()(0).getLong(0)
    failAfter(limit) {
      assert(sumOf("select sum(v) from n") == 303L)
      assert(sumOf("select sum(v) from n version as of 1") == 303L)
      assert(pinned.collect()(0).getLong(0) == 45L)
      engine.run("select 1", a) // ends the pin: the dropped table's v1 goes
      assert(sumOf("select sum(v) from n") == 303L)
      assert(sumOf("select sum(v) from n version as of 1") == 303L)
    }
    engine.closeSession(a)
    engine.closeSession(b)
  }

  test("a warehouse whose current versions live only in warehouse/<t> reopens intact") {
    val dir = warehouse("snapshot-legacy-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table l(k int, v bigint)")
    first.run("insert into l select cast(id as int), id from range(0, 20)")
    first.run("update l set v = v + 100 where k < 5")
    // the layout before version directories: the current version's files
    // only in warehouse/l, earlier versions under .history/l/v<i>, and
    // commit-log entries that name no directory
    val manifest = Paths.get(s"$dir/_catalog.json")
    Files.writeString(manifest,
      Files.readString(manifest).replaceAll(""",\s*"dir":\s*"[^"]*"""", ""))
    val cur = Paths.get(s"$dir/.history/l/v2")
    Files.walk(cur).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
    val again = new Engine(spark, dir)
    def one(sql: String) = again.run(sql).collect()(0)
    val now = one("select count(*), sum(v) from l")
    assert(now.getLong(0) == 20L && now.getLong(1) == (0L until 20L).sum + 500L)
    assert(one("select sum(v) from l version as of 1").getLong(0) == (0L until 20L).sum)
    assert(Files.isDirectory(cur))
    again.run("delete from l where k >= 10")
    assert(one("select count(*) from l").getLong(0) == 10L)
    assert(one("select count(*) from l version as of 2").getLong(0) == 20L)
  }

  test("a restarted engine reads the current versions and time-travels to retained ones") {
    val dir = warehouse("snapshot-restart-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table h(k int, v bigint)")
    first.run("insert into h select cast(id as int), id from range(0, 50)")
    first.run("update h set v = v * 2 where k < 10")
    first.run("delete from h where k >= 40")
    // debris of a statement that died before its pointer flip
    val orphan: Path = Paths.get(s"$dir/.history/h/v9")
    Files.createDirectories(orphan)
    val again = new Engine(spark, dir)
    assert(!Files.exists(orphan))
    val cur = again.run("select count(*), sum(v) from h").collect()(0)
    assert(cur.getLong(0) == 40L && cur.getLong(1) == (0L until 40L).sum + (0L until 10L).sum)
    assert(again.run("select count(*) from h version as of 1").collect()(0).getLong(0) == 50L)
    assert(again.run("select sum(v) from h version as of 1").collect()(0).getLong(0) ==
      (0L until 50L).sum)
    // the live directory holds exactly the current version's files
    def parquet(p: Path): Set[String] = {
      val st = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      } finally st.close()
    }
    assert(parquet(Paths.get(s"$dir/h")) == parquet(Paths.get(s"$dir/.history/h/v3")))
  }
}
