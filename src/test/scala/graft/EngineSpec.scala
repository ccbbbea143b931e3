package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine

/** Engine statement-surface parity with the reference slt suite
  * (create/insert/select/delete/copy/view/udf/index/pragma/system tables —
  * the feature areas of the .slt files under /root/reference/tests/sql/).
  */
class EngineSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val engine = {
    val dir = "/root/repo/target/graft-tmp/warehouse"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    new Engine(spark, dir)
  }

  test("create table + insert values + select") {
    engine.run("create table t1(v1 int not null, v2 int not null)")
    engine.run("insert into t1 values (1, 10), (2, 20), (3, 30)")
    val rows = engine.run("select v1, v2 from t1 order by v1").collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 10), (2, 20), (3, 30)))
  }

  test("insert with column list null-fills and reorders") {
    engine.run("create table t2(a int, b int, c varchar)")
    engine.run("insert into t2 (c, a) select 'x', 7")
    val r = engine.run("select a, b, c from t2").collect()(0)
    assert(r.getInt(0) == 7 && r.isNullAt(1) && r.getString(2) == "x")
  }

  test("delete with predicate removes matching rows only") {
    engine.run("create table t3(v int)")
    engine.run("insert into t3 values (1), (2), (3), (4)")
    val affected = engine.run("delete from t3 where v >= 3").collect()(0).getLong(0)
    assert(affected == 2)
    assert(engine.run("select v from t3 order by v").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("UPDATE parses quoted literals (commas, parens, 'where') and rejects dup assignments") {
    engine.run("create table tu(v int, note varchar)")
    engine.run("insert into tu values (1, 'x'), (2, 'y'), (3, 'z')")
    // comma and paren inside the SET literal must not split the list
    val n1 = engine.run("update tu set note = 'a, (b' where v = 1").collect()(0).getLong(0)
    assert(n1 == 1)
    // ' where ' inside the literal: everything after is still the value;
    // the real WHERE follows
    val n2 = engine.run("update tu set note = 'p where q' where v = 2").collect()(0).getLong(0)
    assert(n2 == 1)
    val got = engine.run("select v, note from tu order by v").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "a, (b", 2 -> "p where q", 3 -> "z"))
    // doubled-quote escape stays one literal
    engine.run("update tu set note = 'it''s, fine' where v = 3")
    assert(engine.run("select note from tu where v = 3").collect()(0).getString(0) == "it's, fine")
    // standard SQL rejects two assignments to one column
    val err = intercept[IllegalArgumentException] {
      engine.run("update tu set v = 1, v = 2")
    }
    assert(err.getMessage.contains("multiple assignments"))
  }

  test("copy to + copy from round-trips CSV with delimiter option") {
    engine.run("create table t4(k int, s varchar)")
    engine.run("insert into t4 values (1, 'alpha'), (2, 'beta')")
    val path = "/root/repo/target/graft-tmp/t4_csv"
    engine.run(s"copy t4 to '$path' (delimiter '|')")
    engine.run("create table t5(k int, s varchar)")
    engine.run(s"copy t5 from '$path' (delimiter '|')")
    assert(engine.run("select k, s from t5 order by k").collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta"))
  }

  test("create view re-plans over current table state") {
    engine.run("create table t6(v int)")
    engine.run("insert into t6 values (1), (2)")
    engine.run("create view v6 as select sum(v) as s from t6")
    assert(engine.run("select s from v6").collect()(0).getLong(0) == 3L)
  }

  test("sql udf is inlined at bind time, including nesting") {
    engine.run("create function addf(a int, b int) returns int language sql as 'select $1 + $2'")
    engine.run("create function quad(x int) returns int language sql as 'select addf(x, x) + addf(x, x)'")
    assert(engine.run("select addf(2, 3) as r").collect()(0).get(0) == 5)
    assert(engine.run("select quad(5) as r").collect()(0).get(0) == 20)
  }

  test("create index records metadata; pg_indexes lists it") {
    engine.run("create table t7(v vector(3) not null)")
    engine.run("create index idx7 on t7 using ivfflat (v) with (distfn = 'l2', nlists = 3)")
    val idx = engine.systemTable("pg_indexes").collect()
    assert(idx.exists(r => r.getString(0) == "idx7" && r.getString(3) == "ivfflat"))
  }

  test("pg_tables and pg_attribute reflect the catalog") {
    val t = engine.systemTable("pg_tables").collect().map(_.getString(1)).toSet
    assert(t.contains("t1"))
    val attrs = engine.systemTable("pg_attribute")
      .filter("tablename = 't1'").collect()
    assert(attrs.length == 2 && attrs.forall(_.getBoolean(4))) // not null
  }

  test("pragma and set are accepted") {
    engine.run("pragma enable_optimizer")
    engine.run("set spark.sql.shuffle.partitions = 8")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
  }

  test("explain analyze runs the query and reports per-operator metrics") {
    engine.run("create table ta(v int)")
    engine.run("insert into ta values (1), (2), (3)")
    val rows = engine.run("explain analyze select v from ta where v > 1").collect()
    assert(rows.nonEmpty)
    assert(rows.exists(r => r.getString(1).toLowerCase.contains("scan")))
    // the scan/filter chain must report the 2 surviving rows somewhere
    assert(rows.exists(_.getLong(2) == 2L))
    // every timer is in ms: the exchange's ns shuffle-write timer, read as
    // ms, would exceed the statement's own wall time
    val t0 = System.nanoTime()
    val agg = engine.run("explain analyze select v, count(*) from ta group by v")
    val timed = agg.collect()
    val wallMs = (System.nanoTime() - t0) / 1e6
    assert(agg.schema("max_time_ms").dataType == org.apache.spark.sql.types.DoubleType)
    assert(timed.forall(_.getDouble(3) <= wallMs), timed.mkString("\n"))
    assert(timed.exists(r => r.getString(1).contains("Exchange") && r.getDouble(3) > 0),
      timed.mkString("\n"))
  }

  test("explain returns a formatted plan") {
    val plan = engine.run("explain select 1 as one").collect()(0).getString(0)
    assert(plan.contains("Project") || plan.contains("(1)"))
  }

  test("error parity: aggregate in WHERE is rejected (reference bind error)") {
    engine.run("create table te(v int)")
    engine.run("insert into te values (1)")
    val e = intercept[Exception](engine.run("select v from te where sum(v) > 0").collect())
    assert(e.getMessage.toLowerCase.contains("where") ||
      e.getMessage.toLowerCase.contains("aggregate"))
  }

  test("error parity: window function in WHERE is rejected") {
    val e = intercept[Exception](
      engine.run("select v from te where row_number() over (order by v) = 1").collect())
    assert(e.getMessage.toLowerCase.contains("window"))
  }

  test("error parity: ORDER BY column outside DISTINCT list is rejected") {
    engine.run("create table td(a int, b int)")
    engine.run("insert into td values (1, 2)")
    val e = intercept[Exception](
      engine.run("select distinct a from td order by b").collect())
    assert(e.getMessage.toLowerCase.contains("distinct"))
    // in-list ordering still works, by name and by ordinal
    assert(engine.run("select distinct a from td order by a").collect().length == 1)
    assert(engine.run("select distinct a from td order by 1").collect().length == 1)
  }

  test("error parity: aggregate in GROUP BY is rejected") {
    val e = intercept[Exception](
      engine.run("select sum(v) from te group by sum(v)").collect())
    assert(e.getMessage.toLowerCase.contains("group by"))
  }

  test("error parity: window function in HAVING is rejected") {
    val e = intercept[Exception](
      engine.run("select v, count(*) from te group by v having row_number() over (order by v) = 1")
        .collect())
    assert(e.getMessage.toLowerCase.contains("window"))
  }

  test("interval column type round-trips through create + insert") {
    engine.run("create table ti(d interval)")
    engine.run("insert into ti values (interval '2' day)")
    val r = engine.run("select d from ti").collect()(0)
    assert(r.get(0) == java.time.Duration.ofDays(2))
    assert(spark.table("ti").schema("d").dataType
      .isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType])
  }

  test("error parity: nested aggregates are rejected") {
    val e = intercept[Exception](
      engine.run("select sum(sum(v)) from te").collect())
    assert(e.getMessage.toLowerCase.contains("aggregate") ||
      e.getMessage.toLowerCase.contains("nested"))
  }

  test("shell sugar: \\di, \\d <table>, \\stat, contributors") {
    engine.run("create table ts1(a int, b varchar)")
    engine.run("insert into ts1 values (1, 'x'), (2, NULL), (2, 'y')")
    engine.run("create index ts1_a on ts1(a)")
    assert(engine.run("""\di""").collect().exists(_.getString(0) == "ts1_a"))
    val cols = engine.run("""\d ts1""").collect().map(_.getString(1)).toSet
    assert(cols == Set("a", "b"))
    assert(engine.run("""\stat ts1""").collect()(0).getLong(1) == 3L)
    val cs = engine.run("""\stat ts1 b""").collect()(0)
    assert(cs.getLong(2) == 2L && cs.getLong(3) == 2L && cs.getLong(4) == 1L)
    assert(engine.systemTable("contributors").collect().nonEmpty)
  }

  test("drop table removes data and catalog entry") {
    engine.run("create table t8(v int)")
    engine.run("insert into t8 values (1)")
    engine.run("drop table t8")
    assert(!engine.systemTable("pg_tables").collect().map(_.getString(1)).contains("t8"))
  }

  test("INSERT executes its source exactly once (observe, not pre-count)") {
    // a side-effecting UDF in the source counts per-row evaluations: a
    // count() pre-pass before the write would double it
    val acc = spark.sparkContext.longAccumulator("graft-insert-evals")
    spark.udf.register("graft_count_eval", (x: Int) => { acc.add(1); x })
    engine.run("create table sx1(a int)")
    engine.run("insert into sx1 select graft_count_eval(v) from (values (1), (2), (3)) as s(v)")
    assert(acc.value == 3L, s"source evaluated ${acc.value} times for 3 rows")
    assert(engine.run("select count(*) from sx1").collect()(0).getLong(0) == 3L)
  }

  test("COPY FROM runs one execution (rows_affected rides the write)") {
    var execs = 0
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        synchronized { execs += 1 }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    engine.run("create table sx2(a int, b varchar)")
    engine.run("insert into sx2 values (1, 'p'), (2, 'q')")
    val path = "/root/repo/target/graft-tmp/sx2_csv"
    engine.run(s"copy sx2 to '$path'")
    engine.run("create table sx3(a int, b varchar)")
    // drain pending listener events from prior statements before counting
    Thread.sleep(500)
    spark.listenerManager.register(listener)
    try {
      engine.run(s"copy sx3 from '$path'")
      // listener events are async — wait until the count stabilizes
      var last = -1
      var spins = 0
      while (execs != last && spins < 20) {
        last = execs; Thread.sleep(250); spins += 1
      }
      assert(execs == 1, s"COPY FROM ran $execs executions, expected 1")
    } finally spark.listenerManager.unregister(listener)
    assert(engine.run("select count(*) from sx3").collect()(0).getLong(0) == 2L)
  }

  test("ANALYZE TABLE feeds row estimates into EXPLAIN (cost mode)") {
    engine.run("create table sx4(a int, b int)")
    engine.run("insert into sx4 values (1, 1), (2, 2), (3, 3), (4, 4)")
    engine.run("analyze table sx4 compute statistics")
    val plan = engine.run("explain select a from sx4 where b > 1").collect()(0).getString(0)
    assert(plan.contains("rowCount=4"), s"no row estimate in:\n$plan")
  }

  test("pragma enable/disable_optimizer changes the plan (AQE wrapper)") {
    engine.run("create table sx5(a int)")
    engine.run("insert into sx5 values (1), (2)")
    engine.run("pragma disable_optimizer")
    val off = engine.run("explain select a, count(*) from sx5 group by a")
      .collect()(0).getString(0)
    engine.run("pragma enable_optimizer")
    val on = engine.run("explain select a, count(*) from sx5 group by a")
      .collect()(0).getString(0)
    assert(!off.contains("AdaptiveSparkPlan") && on.contains("AdaptiveSparkPlan"))
    assert(intercept[Exception](engine.run("pragma no_such_flag"))
      .getMessage.contains("no such pragma"))
  }

  test("SET mock_rowcount_<t> flips join strategy to broadcast") {
    engine.run("create table sx6(k int, v int)")
    engine.run("create table sx7(k int, w int)")
    engine.run("insert into sx6 values (1, 10), (2, 20)")
    engine.run("insert into sx7 values (1, 100), (2, 200)")
    engine.run("set spark.sql.autoBroadcastJoinThreshold=-1")
    try {
      val before = engine.run("explain select v, w from sx6 join sx7 on sx6.k = sx7.k")
        .collect()(0).getString(0)
      engine.run("set mock_rowcount_sx7 = 1")
      val after = engine.run("explain select v, w from sx6 join sx7 on sx6.k = sx7.k")
        .collect()(0).getString(0)
      assert(!before.contains("BroadcastHashJoin") && after.contains("BroadcastHashJoin"),
        s"mock_rowcount did not flip the join strategy")
    } finally engine.run(s"set spark.sql.autoBroadcastJoinThreshold=${64L * 1024 * 1024}")
  }

  test("mock-hint shadow survives an incremental matview refresh overlay") {
    val dir = freshDir("/root/repo/target/graft-tmp/mockmv-warehouse")
    val e = new Engine(spark, dir)
    e.run("create table mh(k int, v int)")
    e.run("create table mhj(k int, w int)")
    e.run("insert into mh values (1, 10), (2, 20)")
    e.run("insert into mhj values (1, 1), (2, 2)")
    e.run("create materialized view mhv as " +
      "select k, sum(v) as s from mh group by k")
    e.run("set mock_rowcount_mh = 1")
    e.run("set spark.sql.autoBroadcastJoinThreshold=-1")
    try {
      // the refresh's delta replay overlays a temp view named `mh` and
      // drops it — the broadcast-hint shadow must come back afterwards
      e.run("insert into mh values (3, 30)")
      val mode = e.run("refresh materialized view mhv").collect()(0).getString(0)
      assert(mode == "incremental", mode)
      val plan = e.run("explain select v, w from mh join mhj on mh.k = mhj.k")
        .collect()(0).getString(0)
      assert(plan.contains("BroadcastHashJoin"),
        s"mock-hint shadow lost across IVM overlay:\n$plan")
    } finally e.run(s"set spark.sql.autoBroadcastJoinThreshold=${64L * 1024 * 1024}")
  }

  test("catalog survives an engine restart: tables, views, functions, indexes") {
    val dir = freshDir("/root/repo/target/graft-tmp/reopen-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table per(k int primary key, v varchar)")
    first.run("insert into per values (1, 'a'), (2, 'b')")
    first.run("create view perv as select k, upper(v) as uv from per")
    first.run("create function addk(x int) returns int return x + 10")
    first.run("create index peri on per using btree (k)")
    // a second Engine on the SAME warehouse must see everything —
    // previously the manifest was written but never read back
    val again = new Engine(spark, dir)
    assert(again.run("select sum(k) as s from per").collect()(0).getLong(0) == 3)
    assert(again.run("select uv from perv order by k").collect()
      .map(_.getString(0)).toSeq == Seq("A", "B"))
    assert(again.run("select addk(5) as r").collect()(0).getInt(0) == 15)
    assert(again.run("\\di").collect().exists(_.getString(0) == "peri"))
    // writes through the reopened engine keep working
    again.run("insert into per values (3, 'c')")
    assert(again.run("select count(*) from per").collect()(0).getLong(0) == 3)
    // column DEFAULTs reload from the manifest too
    first.run("create table perd(k int, v int default 42)")
    val third = new Engine(spark, dir)
    third.run("insert into perd (k) values (1)")
    assert(third.run("select v from perd").collect()(0).getInt(0) == 42)
  }

  test("incremental matview anchor survives a restart and applies the delta") {
    val dir = freshDir("/root/repo/target/graft-tmp/ivm-reopen-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table ivmr(g varchar, v int)")
    first.run("insert into ivmr values ('a', 1), ('b', 2)")
    first.run("create materialized view ivmrv as " +
      "select g, sum(v) as s from ivmr group by g")
    // append through the FIRST engine, refresh through a SECOND: the
    // anchor (base table + version) must come from the manifest
    first.run("insert into ivmr values ('a', 10)")
    val again = new Engine(spark, dir)
    val mode = again.run("refresh materialized view ivmrv")
      .collect()(0).getString(0)
    assert(mode == "incremental", s"expected incremental refresh, got $mode")
    assert(again.run("select s from ivmrv where g = 'a'")
      .collect()(0).getLong(0) == 11L)
    // a delete through the reopened engine stays incremental (the
    // recorded pre-image subtracts through the sidecar, which also
    // survived the restart on disk) and the emptied group disappears
    again.run("delete from ivmr where v = 2")
    val mode2 = again.run("refresh materialized view ivmrv")
      .collect()(0).getString(0)
    assert(mode2 == "incremental", s"expected incremental delete refresh, got $mode2")
    assert(again.run("select count(*) as c from ivmrv")
      .collect()(0).getLong(0) == 1L)
  }

  test("sequences survive a restart: position, identity columns, ownership") {
    val dir = freshDir("/root/repo/target/graft-tmp/seq-reopen-warehouse")
    val first = new Engine(spark, dir)
    first.run("create sequence sqr start with 5 increment by 3")
    assert(first.run("select nextval('sqr')").collect()(0).getLong(0) == 5L)
    first.run("create table sit(id bigint generated always as identity, v varchar)")
    first.run("insert into sit (v) values ('a'), ('b')")
    // the reopened engine continues the SAME positions (manifest), keeps
    // the GENERATED ALWAYS refusal, and still owns the auto-sequence
    val again = new Engine(spark, dir)
    // currval is SESSION state, not manifest state: undefined after
    // reopen until something in THIS session touches the sequence
    val ex2 = intercept[Exception](again.run("select currval('sit_id_seq')"))
    assert(ex2.getMessage.contains("not yet defined"), ex2.getMessage)
    assert(again.run("select nextval('sqr')").collect()(0).getLong(0) == 8L)
    again.run("insert into sit (v) values ('c')")
    assert(again.run("select id from sit order by id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // ... and the serial default's block reservation DID define it (pg:
    // currval is the last value obtained for the session, however)
    assert(again.run("select currval('sit_id_seq')").collect()(0)
      .getLong(0) == 3L)
    val ex = intercept[Exception](
      again.run("insert into sit (id, v) values (99, 'x')"))
    assert(ex.getMessage.contains("GENERATED ALWAYS"), ex.getMessage)
    // pg_sequences surfaces both, with ownership; \ds sugar reads it
    val owned = again.run(
      "select owned_by from pg_sequences where sequencename = 'sit_id_seq'")
      .collect()(0).getString(0)
    assert(owned == "sit.id", owned)
    assert(again.run("""\ds""").collect().length == 2)
    // DROP TABLE through the reopened engine reclaims the owned sequence
    again.run("drop table sit")
    assert(again.run("select count(*) from pg_sequences").collect()(0)
      .getLong(0) == 1L)
  }

  test("generated columns survive a restart and compute through COPY FROM") {
    val dir = freshDir("/root/repo/target/graft-tmp/gen-reopen-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table gt(a int, b int, s int generated always as (a + b) stored)")
    first.run("insert into gt (a, b) values (1, 2)")
    // the reopened engine keeps the expression (manifest): recompute on
    // UPDATE, refusal on explicit INSERT
    val again = new Engine(spark, dir)
    again.run("update gt set a = 10 where b = 2")
    assert(again.run("select s from gt").collect()(0).getInt(0) == 12)
    val ex = intercept[Exception](
      again.run("insert into gt values (1, 1, 99)"))
    assert(ex.getMessage.contains("generated column"), ex.getMessage)
    // COPY FROM expects the file WITHOUT the generated column (pg) and
    // computes it on the way in
    val csv = java.nio.file.Files.createTempDirectory("gencsv")
    java.nio.file.Files.writeString(csv.resolve("rows.csv"), "3,4\n5,6\n")
    again.run(s"copy gt from '${csv.resolve("rows.csv")}' (format csv)")
    val got = again.run("select a, b, s from gt order by a").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == Seq((3, 4, 7), (5, 6, 11), (10, 2, 12)), got)
    again.run("drop table gt")
  }

  test("a matview mutated out-of-band falls back to full refresh (anchor latch)") {
    engine.run("create table ltbase(g varchar, v int)")
    engine.run("insert into ltbase values ('a', 1)")
    engine.run("create materialized view ltv as select g, sum(v) as s from ltbase group by g")
    // mutating the view's backing table moves its version without a
    // re-anchor — the same signature as a refresh that crashed between
    // swap and anchor; the latch must force a full recompute
    engine.run("insert into ltv values ('zz', 999)")
    engine.run("insert into ltbase values ('a', 2)")
    val mode = engine.run("refresh materialized view ltv")
      .collect()(0).getString(0)
    assert(mode == "full", s"expected full after out-of-band view mutation, got $mode")
    val rows = engine.run("select g, s from ltv order by g").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 3L)))
    // the full refresh re-anchored: appends are incremental again
    engine.run("insert into ltbase values ('a', 4)")
    val mode2 = engine.run("refresh materialized view ltv")
      .collect()(0).getString(0)
    assert(mode2 == "incremental", s"expected incremental after re-anchor, got $mode2")
    engine.run("drop materialized view ltv")
    engine.run("drop table ltbase")
  }

  test("SCROLL declare stamps contiguous positions distributed over many partitions") {
    // 5000 rows span many range partitions: the zipWithIndex count-offset
    // stamp (no single-task global Window at DECLARE) must still produce
    // exact pg ordinals under a DESC-ordered declare
    engine.run("create table scbig as select cast(id as int) as k from range(5000)")
    engine.run("declare scb scroll cursor for select k from scbig order by k desc")
    def one(sql: String): Seq[Int] =
      engine.run(sql).collect().toSeq.map(_.getInt(0))
    assert(one("fetch absolute 1 from scb") == Seq(4999))
    assert(one("fetch absolute 5000 from scb") == Seq(0))
    assert(one("fetch absolute 2500 from scb") == Seq(5000 - 2500))
    assert(one("fetch backward 3 from scb") == Seq(2501, 2502, 2503))
    assert(one("fetch forward 2 from scb") == Seq(2502, 2501))
    engine.run("close scb")
    engine.run("drop table scbig")
  }

  test("time travel survives an engine restart; storage is links, not copies") {
    val dir = freshDir("/root/repo/target/graft-tmp/timetravel-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table tt(k int, v varchar)")
    first.run("insert into tt values (1, 'a')")
    first.run("insert into tt values (2, 'b')")
    // append commits archive by hard link: v1 (the pre-state of the
    // second insert) shares inodes with the files still in the live dir —
    // no data bytes copied. (Rewrite commits archive by MOVING the swap's
    // aside dir, so those snapshots are the original files, also copy-free.)
    val v1 = java.nio.file.Paths.get(s"$dir/.history/tt/v1")
    val s = java.nio.file.Files.walk(v1)
    val linked = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { p =>
        java.nio.file.Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Number].intValue
      }.toVector
    } finally s.close()
    assert(linked.nonEmpty && linked.forall(_ > 1),
      s"expected hard-linked snapshot files, got link counts $linked")
    first.run("update tt set v = 'B' where k = 2")
    // a second Engine on the same warehouse reads the log and snapshots
    val again = new Engine(spark, dir)
    assert(again.run("select v from tt version as of 2 where k = 2")
      .collect()(0).getString(0) == "b")
    assert(again.run("select count(*) from tt version as of 1")
      .collect()(0).getLong(0) == 1)
    assert(again.run("select v from tt where k = 2")
      .collect()(0).getString(0) == "B")
    val hist = again.run(
      "select operation from graft_history where tablename = 'tt' order by version")
      .collect().map(_.getString(0)).toSeq
    assert(hist == Seq("create table", "insert", "insert", "update"), hist)
    // vacuum through the reopened engine reclaims all archived versions
    assert(again.run("vacuum tt").collect()(0).getLong(0) == 3)
    assertThrows[Exception](again.run("select * from tt version as of 1").collect())
    assert(again.run("select count(*) from tt").collect()(0).getLong(0) == 2)
  }

  test("time travel soaks over many commits and a restart") {
    val dir = freshDir("/root/repo/target/graft-tmp/ttsoak-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table soak(k int, v int)")
    (1 to 40).foreach(i => first.run(s"insert into soak values ($i, ${i * 10})"))
    // version j holds exactly j rows; spot-check across the log
    Seq(1, 17, 40).foreach { j =>
      assert(first.run(s"select count(*) from soak version as of $j")
        .collect()(0).getLong(0) == j, s"version $j")
    }
    val again = new Engine(spark, dir)
    assert(again.run("select count(*) from soak version as of 23")
      .collect()(0).getLong(0) == 23)
    assert(again.run(
      "select count(*) from graft_history where tablename = 'soak'")
      .collect()(0).getLong(0) == 41)
    // retain the 5 newest archived snapshots: v0..v34 reclaim
    assert(again.run("vacuum soak retain 5 versions")
      .collect()(0).getLong(0) == 35)
    assert(again.run("select count(*) from soak version as of 36")
      .collect()(0).getLong(0) == 36)
    assertThrows[Exception](
      again.run("select * from soak version as of 34").collect())
    again.run("drop table soak")
  }

  test("materialized view survives a restart with kind and refreshability") {
    val dir = freshDir("/root/repo/target/graft-tmp/matview-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table mvp(k int, v int)")
    first.run("insert into mvp values (1, 10), (2, 20)")
    first.run("create materialized view mvps as select sum(v) as total from mvp")
    val again = new Engine(spark, dir)
    // the snapshot data AND the matview marker both persisted
    assert(again.run("select total from mvps").collect()(0).getLong(0) == 30)
    assert(again.run("select kind from pg_tables where tablename = 'mvps'")
      .collect()(0).getString(0) == "matview")
    // REFRESH works through the reopened engine (body came from manifest)
    again.run("insert into mvp values (3, 70)")
    again.run("refresh materialized view mvps")
    assert(again.run("select total from mvps").collect()(0).getLong(0) == 100)
    intercept[Exception](again.run("drop table mvps").collect())
    again.run("drop materialized view mvps")
  }

  test("ANALYZE TABLE flows to Spark's native stats and feeds the CBO") {
    engine.run("create table azs(v int)")
    engine.run("insert into azs values (1), (2), (3)")
    engine.run("analyze table azs compute statistics")
    val stats = spark.table("azs").queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(3)),
      s"catalog rowCount missing after ANALYZE: $stats")
  }

  test("ANALYZE FOR COLUMNS histograms sharpen skewed estimates and survive restart") {
    val dir = freshDir("/root/repo/target/graft-tmp/hist-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table hst(v int)")
    // heavy skew: 990 rows of v=1, then ten rare distinct values
    first.run("insert into hst select case when id < 990 then 1 " +
      "else cast(id as int) end as v from range(1000)")
    first.run("analyze table hst compute statistics for columns v")
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cs = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("hst")).stats.get.colStats("v")
    assert(cs.histogram.isDefined, "ANALYZE FOR COLUMNS must collect a histogram")
    // with equi-height bins the CBO tells the hot value from a rare one;
    // a histogram-less estimate would put n/ndv on BOTH predicates
    def est(pred: String): BigInt = first
      .run(s"select * from hst where $pred").queryExecution
      .optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
    val hot = est("v = 1")
    val rare = est("v = 995")
    assert(hot > rare * 10,
      s"histogram estimation inactive: hot=$hot rare=$rare")
    // restart: the serialized histogram rides the manifest and re-pushes
    val again = new Engine(spark, dir)
    val cs2 = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("hst")).stats.get.colStats("v")
    assert(cs2.histogram.isDefined, "histogram lost across restart")
    assert(cs2.histogram.get.bins.length == cs.histogram.get.bins.length)
    // DML keeps the (now stale) histogram pg-style — pg statistics also
    // persist until the next ANALYZE refreshes them
    again.run("insert into hst values (2000)")
    again.run("delete from hst where v = 2000")
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier("hst"))
      .stats.get.colStats.get("v").exists(_.histogram.isDefined),
      "stats persist until the next ANALYZE, like pg")
    // ... and a fresh ANALYZE rebuilds them from the current state
    again.run("analyze table hst compute statistics for columns v")
    assert(spark.sessionState.catalog.getTableMetadata(TableIdentifier("hst"))
      .stats.get.colStats("v").histogram.isDefined)
  }

  test("reopen recovers a table stranded mid-swap in the aside dir") {
    val dir = freshDir("/root/repo/target/graft-tmp/swapcrash-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table sc(v int)")
    first.run("insert into sc values (7), (8)")
    // simulate a crash between rewriteSwap's two renames: live dir moved
    // aside, replacement never arrived
    val live = java.nio.file.Paths.get(s"$dir/sc")
    val aside = java.nio.file.Paths.get(s"$dir/.sc.old.tmp")
    java.nio.file.Files.move(live, aside)
    val again = new Engine(spark, dir)
    assert(again.run("select sum(v) as s from sc").collect()(0).getLong(0) == 15)
  }

  test("manifest round-trips multi-line and control-char view/function bodies") {
    val dir = freshDir("/root/repo/target/graft-tmp/manifest-escape-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table me(k int, v varchar)")
    first.run("insert into me values (1, 'a\tb')")
    // a multi-line view body (normal via pgwire simple query) used to write
    // literal newlines into the manifest JSON, making the warehouse
    // unopenable: Jackson rejects unescaped control characters
    first.run("create view mev as\nselect k,\n\tupper(v) as uv\nfrom me")
    first.run("create function mef(x int) returns int language sql return\n\tx + 1")
    val again = new Engine(spark, dir)
    assert(again.run("select uv from mev").collect()(0).getString(0) == "A\tB")
    assert(again.run("select mef(41) as r").collect()(0).getInt(0) == 42)
  }

  test("corrupt manifest fails with a clear error and keeps a backup") {
    val dir = freshDir("/root/repo/target/graft-tmp/manifest-corrupt-warehouse")
    new Engine(spark, dir).run("create table mc(v int)")
    val path = java.nio.file.Paths.get(s"$dir/_catalog.json")
    java.nio.file.Files.writeString(path, "{\"tables\": {\"mc\"")  // truncated
    val e = intercept[IllegalStateException](new Engine(spark, dir))
    assert(e.getMessage.contains("unreadable"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/_catalog.json.corrupt")))
  }

  test("reopen sweeps orphan rewrite/manifest temp debris") {
    val dir = freshDir("/root/repo/target/graft-tmp/manifest-sweep-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table ms(v int)")
    first.run("insert into ms values (1)")
    // simulate a crash after rewriteSwap's tmp write (before any rename)
    // and a crash mid-saveManifest
    val orphanDir = java.nio.file.Paths.get(s"$dir/.ms.rewrite.tmp")
    java.nio.file.Files.createDirectories(orphanDir)
    java.nio.file.Files.writeString(orphanDir.resolve("part-0.parquet"), "junk")
    val orphanManifest = java.nio.file.Paths.get(s"$dir/._catalog.json.tmp")
    java.nio.file.Files.writeString(orphanManifest, "{")
    val again = new Engine(spark, dir)
    assert(!java.nio.file.Files.exists(orphanDir))
    assert(!java.nio.file.Files.exists(orphanManifest))
    assert(again.run("select sum(v) as s from ms").collect()(0).getLong(0) == 1)
  }

  test("pg TEXT escape/unescape round-trips adversarial strings") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "a\\\t\n\r\u0008\u000C\u000BN."
    val nasty = Seq("", "\\", "\\\\", "\\N", "a\tb", "line\nbreak", "\r\n",
      "ends with \\", "\\t", "\\n literal", "\u000B\u000C\u0008") ++
      (1 to 300).map(_ => (0 to rnd.nextInt(12))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = nasty.toDF("s")
    val out = df.select(col("s"),
        engine.pgTextEscape(col("s")).as("esc"),
        engine.pgTextUnescape(engine.pgTextEscape(col("s"))).as("rt"))
      .collect()
    out.foreach { r =>
      assert(r.getString(2) == r.getString(0),
        s"round-trip broke for ${r.getString(0).map(_.toInt)}")
      // the escaped form must be single-line and tab-free, or COPY TEXT
      // framing (tab separators, newline rows) would corrupt
      val esc = r.getString(1)
      assert(!esc.exists("\t\n\r".contains(_)), esc)
    }
  }

  test("COPY TEXT honors DELIMITER and decodes octal/hex escapes") {
    engine.run("create table pgt(a varchar, b varchar)")
    val dir = java.nio.file.Paths.get("/root/repo/target/graft-tmp/pgt_in")
    java.nio.file.Files.createDirectories(dir)
    // what another COPY TEXT producer (pg_dump) emits: \xHH and \OOO
    // byte escapes (incl. a multi-byte UTF-8 char as two hex bytes),
    // an escaped delimiter inside a field, and a \N null
    java.nio.file.Files.write(dir.resolve("data.txt"), java.util.Arrays.asList(
      "\\x41\\x42|has\\|pipe",
      "\\101\\102\\103|\\x4a",
      "\\xC3\\xA9|\\N"), java.nio.charset.StandardCharsets.UTF_8)
    engine.run(s"copy pgt from '$dir' (format text, delimiter '|')")
    val got = engine.run("select a, b from pgt order by a").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(got == Seq(("AB", Some("has|pipe")), ("ABC", Some("J")),
      ("é", None)), got)
    // round-trip the custom delimiter back out and in again
    val out = "/root/repo/target/graft-tmp/pgt_out"
    engine.run(s"copy pgt to '$out' (format text, delimiter '|')")
    engine.run("create table pgt2(a varchar, b varchar)")
    engine.run(s"copy pgt2 from '$out' (format text, delimiter '|')")
    val rt = engine.run("select a, b from pgt2 order by a").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    assert(rt == got, rt)
    // pg parity: quote/escape/header are csv-only — error, never ignore
    Seq("quote '\"'", "header", "escape '\\'").foreach { o =>
      val e = intercept[IllegalArgumentException] {
        engine.run(s"copy pgt from '$dir' (format text, $o)")
      }
      assert(e.getMessage.contains("CSV mode"), e.getMessage)
    }
    // delimiters that collide with the escape grammar are rejected (pg
    // parity) — a letter delimiter would silently corrupt round-trips
    Seq("n", "7", "\\\\", ".").foreach { d =>
      val e = intercept[IllegalArgumentException] {
        engine.run(s"copy pgt from '$dir' (format text, delimiter '$d')")
      }
      assert(e.getMessage.contains("delimiter"), e.getMessage)
    }
  }

  test("CLUSTERED BY: co-bucketed join plans no Exchange; DML keeps the layout") {
    engine.run("create table bkf(k int not null, v int) clustered by (k) into 4 buckets")
    engine.run("create table bkd(k int not null, w int) clustered by (k) into 4 buckets")
    engine.run("insert into bkf select id, id * 2 from range(0, 1000)")
    engine.run("insert into bkd select id, id * 3 from range(0, 1000)")
    engine.run("set spark.sql.autoBroadcastJoinThreshold=-1")
    def joinPlan(): String = engine.run(
      "explain select v, w from bkf join bkd on bkf.k = bkd.k")
      .collect()(0).getString(0)
    try {
      val plan = joinPlan()
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"),
        s"co-bucketed join should shuffle nothing:\n$plan")
      assert(engine.run(
        "select count(*) as c from bkf join bkd on bkf.k = bkd.k")
        .collect()(0).getLong(0) == 1000)
      // DELETE/UPDATE rewrite THROUGH the bucket layout — the join stays
      // exchange-free and correct afterwards (a raw parquet rewrite would
      // leave unbucketed files Spark then mis-joins)
      engine.run("delete from bkf where k >= 500")
      engine.run("update bkf set v = v + 1 where k < 10")
      val plan2 = joinPlan()
      assert(plan2.contains("SortMergeJoin") && !plan2.contains("Exchange"), plan2)
      val r = engine.run("select count(*) as c, sum(v) as s " +
        "from bkf join bkd on bkf.k = bkd.k").collect()(0)
      assert(r.getLong(0) == 500 &&
        r.getLong(1) == (0L until 500).map(_ * 2).sum + 10)
    } finally engine.run(s"set spark.sql.autoBroadcastJoinThreshold=${64L * 1024 * 1024}")
  }

  test("concurrent vector ANN queries keep their own probe views") {
    // two sessions' SELECTs share the read lock, so the IndexScan tier's
    // temp view must be per-invocation: with the old fixed name, thread A
    // could silently rank thread B's probed subset
    engine.run("create table vca(a vector(2) not null, tag varchar)")
    engine.run("create table vcb(a vector(2) not null, tag varchar)")
    engine.run("insert into vca values ('[0,0]','a0'), ('[9,9]','a1')")
    engine.run("insert into vcb values ('[0,0]','b0'), ('[9,9]','b1')")
    engine.run("CREATE INDEX vca_i ON vca USING ivfflat (a) WITH (nlists = 2, nprobe = 1)")
    engine.run("CREATE INDEX vcb_i ON vcb USING ivfflat (a) WITH (nlists = 2, nprobe = 1)")
    def ask(tbl: String, near: String): String =
      engine.run(s"select tag from $tbl order by a <-> '[$near]'::VECTOR(2) limit 1")
        .collect()(0).getString(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq(
      new Thread(() => (1 to 40).foreach { _ =>
        val r = ask("vca", "1, 1")
        if (r != "a0") errs.add(s"vca got $r")
      }),
      new Thread(() => (1 to 40).foreach { _ =>
        val r = ask("vcb", "8, 8")
        if (r != "b1") errs.add(s"vcb got $r")
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    // and nothing leaks into the session catalog
    val leaked = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("__graft_index_probe"))
    assert(leaked.isEmpty, leaked.mkString(","))
    engine.run("drop table vca")
    engine.run("drop table vcb")
  }

  test("vector ANN rewrite leaves string literals containing FROM intact") {
    // the IndexScan tier rewrites `FROM <table>` to the probe view with a
    // quote-aware scanner; a select-list literal that spells out
    // "from vlit" ahead of the real FROM must stay payload
    engine.run("create table vlit(a vector(2) not null, tag varchar)")
    engine.run("insert into vlit values ('[0,0]','near'), ('[9,9]','far')")
    engine.run("CREATE INDEX vlit_i ON vlit USING ivfflat (a) WITH (nlists = 2, nprobe = 1)")
    val r = engine.run(
      "select tag, ' from vlit ' as note from vlit " +
        "order by a <-> '[1,1]'::VECTOR(2) limit 1").collect()(0)
    assert(r.getString(0) == "near" && r.getString(1) == " from vlit ")
    engine.run("drop table vlit")
  }

  test("ALTER TABLE changes survive an engine restart") {
    val dir = freshDir("/root/repo/target/graft-tmp/alter-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table am(a int not null, b varchar)")
    first.run("insert into am values (1, 'x')")
    first.run("alter table am add column c double")
    first.run("alter table am rename column b to label")
    first.run("alter table am rename to am2")
    val again = new Engine(spark, dir)
    val r = again.run("select a, label, c from am2").collect()(0)
    assert(r.getInt(0) == 1 && r.getString(1) == "x" && r.isNullAt(2))
    again.run("drop table am2")
  }

  test("bucket spec survives an engine restart") {
    val dir = freshDir("/root/repo/target/graft-tmp/bucket-warehouse")
    val first = new Engine(spark, dir)
    first.run("create table bkp(k int not null, v int) clustered by (k) into 4 buckets")
    first.run("create table bkq(k int not null, w int) clustered by (k) into 4 buckets")
    first.run("insert into bkp select id, id from range(0, 100)")
    first.run("insert into bkq select id, id from range(0, 100)")
    val again = new Engine(spark, dir)
    again.run("set spark.sql.autoBroadcastJoinThreshold=-1")
    try {
      val plan = again.run(
        "explain select v, w from bkp join bkq on bkp.k = bkq.k")
        .collect()(0).getString(0)
      assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange"), plan)
      assert(again.run("select count(*) as c from bkp join bkq on bkp.k = bkq.k")
        .collect()(0).getLong(0) == 100)
    } finally again.run(s"set spark.sql.autoBroadcastJoinThreshold=${64L * 1024 * 1024}")
  }

  test("DISTINCT ORDER-BY parity accepts star and qualified names") {
    engine.run("create table sx8(a int, b int)")
    engine.run("insert into sx8 values (2, 1), (1, 2)")
    assert(engine.run("select distinct * from sx8 order by a").collect().length == 2)
    assert(engine.run("select distinct a from sx8 order by sx8.a").collect().length == 2)
    val e = intercept[Exception](
      engine.run("select distinct a from sx8 order by b").collect())
    assert(e.getMessage.contains("DISTINCT"))
  }

  test("auto-stats: every commit keeps exact catalog rowCount; the static guard reads it") {
    val dir = freshDir("/root/repo/target/graft-tmp/stats-warehouse")
    val e = new Engine(spark, dir)
    import org.apache.spark.sql.catalyst.TableIdentifier
    def catRows(t: String): Option[BigInt] =
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
        .stats.flatMap(_.rowCount)
    e.run("create table st(k int, v int)")
    assert(catRows("st").contains(BigInt(0)))
    e.run("insert into st select id, id from range(0, 1000)")
    assert(catRows("st").contains(BigInt(1000)))
    e.run("delete from st where k < 100")
    assert(catRows("st").contains(BigInt(900)))
    e.run("update st set v = v + 1 where k < 200")
    assert(catRows("st").contains(BigInt(900)))
    // the ledger survives a restart through the manifest
    new Engine(spark, dir)
    assert(catRows("st").contains(BigInt(900)))
    // static-path guard veto, no AQE: a build side whose BYTES are tiny
    // (the byte threshold would broadcast it) but whose rowCount stats
    // say 50M — the guard vetoes on rows in the static optimizer
    e.run("create table big(k int)")
    e.run("insert into big select id from range(0, 1000)")
    import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
    // mock BOTH sides as 50M rows in 1 KB: the byte threshold would
    // happily broadcast either; the row guard must veto both
    Seq("big", "st").foreach(t =>
      spark.sessionState.catalog.alterTableStats(TableIdentifier(t),
        Some(CatalogStatistics(BigInt(1024), Some(BigInt(50000000L))))))
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = spark.sql(
        "select count(*) from st join big on st.k = big.k")
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
  }

  test("auto column stats: PK NDV and min/max ride every commit and flip CBO plans") {
    val dir = freshDir("/root/repo/target/graft-tmp/colstats-warehouse")
    val e = new Engine(spark, dir)
    import org.apache.spark.sql.catalyst.TableIdentifier
    def colStat(t: String, c: String) =
      spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))
        .stats.map(_.colStats).getOrElse(Map.empty).get(c)
    e.run("create table cs(k int primary key, v int)")
    e.run("insert into cs select id, id % 7 from range(0, 1000)")
    // a declared PK's NDV is the exact row count (by contract, no
    // computation); min/max ride the insert's own write job
    val s0 = colStat("cs", "k").get
    assert(s0.distinctCount.contains(BigInt(1000)), s0)
    assert(s0.min.contains("0") && s0.max.contains("999"), s0)
    assert(s0.nullCount.contains(BigInt(0)), s0)
    // appends merge min/max
    e.run("insert into cs select id + 5000, 1 from range(0, 10)")
    val s1 = colStat("cs", "k").get
    assert(s1.distinctCount.contains(BigInt(1010)), s1)
    assert(s1.min.contains("0") && s1.max.contains("5009"), s1)
    // a rewrite observes the COMPLETE post-state: min/max exact again
    e.run("delete from cs where k >= 500 and k < 5000")
    val s2 = colStat("cs", "k").get
    assert(s2.distinctCount.contains(BigInt(510)), s2)
    assert(s2.min.contains("0") && s2.max.contains("5009"), s2)
    // ANALYZE ... FOR COLUMNS adopts into the ledger; both ledgers and
    // the adopted column stats survive an engine restart
    e.run("analyze table cs compute statistics for columns v")
    val sv = colStat("cs", "v").get
    assert(sv.distinctCount.exists(_ > 0), sv)
    new Engine(spark, dir)
    val sv2 = colStat("cs", "v").get
    assert(sv2.distinctCount == sv.distinctCount && sv2.min == sv.min &&
      sv2.max == sv.max, s"ANALYZE column stats lost on restart: $sv2 vs $sv")
    assert(colStat("cs", "k").get.distinctCount.contains(BigInt(510)))
    // CBO plan pin: an equality filter on a PK estimates rowCount/NDV =
    // 1 row, small enough to broadcast under a tight threshold — the
    // SAME query against a stats-less twin keeps the sort-merge join.
    // (This is the join-shape decision a 100x cluster plan hangs on.)
    // incompressible pads: the dims must be ABOVE the broadcast threshold
    // on raw size, so only the stats-driven 1-row estimate can flip them
    e.run("create table dimk(k int primary key, pad varchar)")
    e.run("insert into dimk select id, md5(cast(id as string)) || " +
      "md5(cast(id + 1 as string)) from range(0, 20000)")
    e.run("create table dimn(k int, pad varchar)") // no PK, auto FK stats
    e.run("insert into dimn select id, md5(cast(id as string)) || " +
      "md5(cast(id + 1 as string)) from range(0, 20000)")
    e.run("create table factc(fk int, v int)")
    e.run("insert into factc select id % 1000, id from range(0, 50000)")
    val oldThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024).toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def planOf(dim: String): String = spark.sql(
        s"select count(*) from factc join $dim on factc.fk = $dim.k " +
          s"where $dim.k = 42").queryExecution.executedPlan.toString
      val withStats = planOf("dimk")
      assert(withStats.contains("BroadcastHashJoin"),
        s"PK NDV did not shrink the filtered dim below the threshold:\n$withStats")
      // r16: the NON-PK twin broadcasts too — auto-stats now cover every
      // numeric column under the cap, so the undeclared FK join key
      // plans from a real NDV without any ANALYZE
      val nonPk = planOf("dimn")
      assert(nonPk.contains("BroadcastHashJoin"),
        s"non-PK numeric column missed the auto-stats ride:\n$nonPk")
      // the genuine stats-less control lives OUTSIDE the engine write
      // path: raw catalog parquet tables over the same files (BOTH
      // sides — the engine-written fact now carries stats too) keep the
      // sort-merge join, so the pin is not vacuous
      spark.sql("DROP TABLE IF EXISTS dimr")
      spark.sql("DROP TABLE IF EXISTS factr")
      spark.sql("CREATE TABLE dimr (k INT, pad STRING) USING parquet " +
        s"LOCATION '$dir/dimn'")
      spark.sql("CREATE TABLE factr (fk INT, v INT) USING parquet " +
        s"LOCATION '$dir/factc'")
      try {
        val withoutStats = spark.sql(
          "select count(*) from factr join dimr on factr.fk = dimr.k " +
            "where dimr.k = 42").queryExecution.executedPlan.toString
        assert(!withoutStats.contains("BroadcastHashJoin"),
          s"stats-less twin broadcast anyway (pin is vacuous):\n$withoutStats")
      } finally {
        spark.sql("DROP TABLE IF EXISTS dimr")
        spark.sql("DROP TABLE IF EXISTS factr")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
    // CLUSTERED BY columns auto-collect too (approx NDV within HLL error)
    e.run("create table cb(g int, v int) clustered by (g) into 4 buckets")
    e.run("insert into cb select id % 200, id from range(0, 5000)")
    val sg = colStat("cb", "g").get
    assert(sg.distinctCount.exists(n => n >= 180 && n <= 220), sg)
    assert(sg.min.contains("0") && sg.max.contains("199"), sg)
  }

  test("anchored matview refreshes correctly after a rolled-back base mutation") {
    val dir = freshDir("/root/repo/target/graft-tmp/txnmv-warehouse")
    val e = new Engine(spark, dir)
    e.run("create table tb(g varchar, v int)")
    e.run("insert into tb values ('a', 1), ('b', 2)")
    e.run("create materialized view tmv as " +
      "select g, count(*) as n, sum(v) as s from tb group by g")
    // a rolled-back base mutation must not leave the anchor's delta
    // window pointing at vanished files or double-counting survivors
    e.run("begin")
    e.run("insert into tb values ('a', 100)")
    e.run("delete from tb where g = 'b'")
    e.run("rollback")
    // the base is bit-identical to pre-txn; a post-rollback append
    // reuses the version numbers the rollback reclaimed
    e.run("insert into tb values ('a', 10)")
    val mode = e.run("refresh materialized view tmv").collect()(0).getString(0)
    assert(mode == "incremental", mode)
    val got = e.run("select g, n, s from tmv order by g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 2L, 11L), ("b", 1L, 2L)), got)
    // a REFRESH inside the transaction rolls back too: the view's data
    // reverts and its anchor is dropped, so the next refresh goes full
    // (crash-latch contract) and still lands on the right answer
    e.run("begin")
    e.run("insert into tb values ('b', 20)")
    e.run("refresh materialized view tmv")
    e.run("rollback")
    val got2 = e.run("select g, n, s from tmv order by g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got2 == Seq(("a", 2L, 11L), ("b", 1L, 2L)), got2)
    e.run("insert into tb values ('b', 20)")
    val mode2 = e.run("refresh materialized view tmv").collect()(0).getString(0)
    assert(mode2 == "full", mode2)
    val got3 = e.run("select g, n, s from tmv order by g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got3 == Seq(("a", 2L, 11L), ("b", 2L, 22L)), got3)
    // time travel is unpolluted: no delete commit survives on tb
    val ops = e.run("select operation from graft_history where tablename = 'tb'")
      .collect().map(_.getString(0)).toSeq
    assert(!ops.contains("delete"), ops)
  }

  test("string literals are standard-conforming: backslash is literal (pg parity)") {
    // the engine advertises standard_conforming_strings=on; before r17
    // Spark's C-style escapes made 'C:\temp\new' store a TAB + NEWLINE —
    // silent payload corruption for any pg client
    engine.run("create table sconf(s varchar)")
    engine.run("insert into sconf values ('C:\\temp\\new')")
    val v = engine.run("select s from sconf").collect()(0).getString(0)
    assert(v == "C:\\temp\\new", s"stored [${v}]")
    assert(engine.run("select 'a\\nb' as x").collect()(0).getString(0) == "a\\nb")
    // '' stays the one escape, and predicates compare raw bytes
    assert(engine.run("select 'it''s' as x").collect()(0).getString(0) == "it's")
    assert(engine.run("select count(*) as n from sconf where s like 'C:%'")
      .collect()(0).getLong(0) == 1L)
    engine.run("drop table sconf")
  }

  test("comments strip quote-aware: an apostrophe in a comment can't corrupt literals") {
    engine.run("create table scmt(s varchar)")
    // the classic trap: the comment's apostrophe used to flip the quote
    // state, so the literal scanned as outside-quotes and its backslash
    // went through Spark's C-escape (TAB) — stripComments runs first now
    engine.run("/* client's note */ insert into scmt values ('C:\\temp')")
    assert(engine.run("select s from scmt -- trailing comment")
      .collect()(0).getString(0) == "C:\\temp")
    // line comment ahead of the statement; literal containing '--'
    engine.run("-- lead\ninsert into scmt values ('a--b')")
    assert(engine.run("select count(*) as n from scmt where s = 'a--b'")
      .collect()(0).getLong(0) == 1L)
    // Spark optimizer hints survive verbatim
    assert(engine.run("select /*+ REPARTITION(2) */ count(*) as n from scmt")
      .collect()(0).getLong(0) == 2L)
    engine.run("drop table scmt")
  }

  test("quoted CREATE FUNCTION body: '' collapses, literals conform") {
    engine.run("create function cfq() returns varchar language sql " +
      "as 'select ''it''''s \\ ok'''")
    assert(engine.run("select cfq() as v").collect()(0).getString(0)
      == "it's \\ ok")
    engine.run("drop function cfq")
  }

  test("MERGE ON analysis errors keep their real message (not 'nondeterministic')") {
    engine.run("create table mgt(k int)")
    engine.run("create table mgs(k int)")
    val e = intercept[Exception] {
      engine.run("merge into mgt using mgs on mgt.wrong_col = mgs.k " +
        "when matched then delete")
    }
    assert(!e.getMessage.contains("nondeterministic"), e.getMessage)
    assert(e.getMessage.toLowerCase.contains("wrong_col"), e.getMessage)
    engine.run("drop table mgt"); engine.run("drop table mgs")
  }
}
