package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine

/** Regression pins for the round-15 ADVICE findings: sequence-function
  * text inside string literals, nondeterministic serial-stamp sources,
  * ON CONFLICT + GENERATED ALWAYS DEFAULT inserts, refused block
  * reservations leaving sequence state untouched, and the COPY TO/FROM
  * generated-column round-trip.
  */
class SequenceEdgeSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val engine = {
    val dir = "/root/repo/target/graft-tmp/seqedge-warehouse"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    new Engine(spark, dir)
  }

  test("nextval text inside a string literal is payload, not a call") {
    val r = engine.run("select 'use nextval(''sq'')' as s").collect()
    assert(r.length == 1 && r(0).getString(0) == "use nextval('sq')")
    // ... and such a SELECT stays on the shared read lock
    assert(Engine.isReadOnly("select 'use nextval(''sq'')'"))
    assert(!Engine.isReadOnly("select nextval('sq')"))
  }

  test("refused oversized block reservation leaves sequence state intact") {
    engine.run("create sequence cap_sq maxvalue 5")
    engine.run("create table capt(id bigint default nextval('cap_sq'), v int)")
    // 9 rows > maxvalue 5: refused, and the START value must NOT be consumed
    val ex = intercept[Exception] {
      engine.run("insert into capt (v) select cast(id as int) from range(9)")
    }
    assert(ex.getMessage.toLowerCase.contains("maximum"), ex.getMessage)
    val v = engine.run("select nextval('cap_sq') as v").collect()(0).getLong(0)
    assert(v == 1L, s"first nextval after refused block was $v, expected START=1")
  }

  test("nondeterministic insert source stamps serials matching its one evaluation") {
    engine.run("create table ndt(id bigint generated always as identity, v double)")
    // rand()-filtered source: cardinality differs per evaluation, so the
    // stamp path must materialize ONCE — ids must stay unique and the
    // next statement's block must not overlap
    engine.run(
      "insert into ndt (v) select id * 1.0 from range(2000) where rand() < 0.5")
    engine.run("insert into ndt (v) select id * 1.0 from range(10)")
    val n = engine.run("select count(*) as n from ndt").collect()(0).getLong(0)
    val d = engine.run("select count(distinct id) as n from ndt").collect()(0).getLong(0)
    assert(n == d, s"$n rows but only $d distinct serial ids — block overrun")
  }

  test("INSERT (id, v) VALUES (DEFAULT, ..) ON CONFLICT accepted on GENERATED ALWAYS") {
    engine.run("create table oct(id bigint generated always as identity, v int)")
    engine.run("insert into oct (id, v) values (default, 1) on conflict (id) do nothing")
    val r = engine.run("select id, v from oct").collect()
    assert(r.length == 1 && r(0).getInt(1) == 1)
    // the refusal still fires for an explicit value
    val ex = intercept[Exception] {
      engine.run("insert into oct (id, v) values (99, 2) on conflict (id) do nothing")
    }
    assert(ex.getMessage.contains("GENERATED ALWAYS"), ex.getMessage)
  }

  test("COPY TO excludes generated columns so the TO/FROM round-trip restores") {
    engine.run("create table gct(a int, s int generated always as (a + b) stored, b int)")
    engine.run("insert into gct (a, b) values (1, 10), (2, 20)")
    val dir = "/root/repo/target/graft-tmp/seqedge-copy"
    engine.run(s"copy gct to '$dir' (format csv)")
    engine.run("delete from gct")
    engine.run(s"copy gct from '$dir' (format csv)")
    val got = engine.run("select a, s, b from gct order by a").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == Seq((1, 11, 10), (2, 22, 20)), got.toString)
  }
}
