package graft

import java.net.ServerSocket
import java.nio.charset.StandardCharsets

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Binding, Engine, Session}
import graft.plans.RefLiteral

/** Generic plans for bound extended-protocol statements and the
  * literal-invariant code generation under them: a template is planned
  * once, every binding reuses its plan and its compiled classes, and the
  * rows equal the bound-text path's.
  */
class GenericPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private lazy val engine = {
    val e = new Engine(spark, freshDir("target/graft-tmp/generic-plan-warehouse"))
    e.run("create table gp(i int, b bigint, d date, ts timestamp, s varchar)")
    val rows = (0 until 40).map { k =>
      s"($k, ${k * 10000000000L}, date '${day(k)}', timestamp '${stamp(k)}', 'v$k')"
    }
    e.run(s"insert into gp values ${rows.mkString(", ")}")
    e
  }
  private def day(k: Int): String = java.time.LocalDate.of(2020, 1, 1).plusDays(k).toString
  private def stamp(k: Int): String = s"${java.time.LocalDate.of(2021, 3, 1).plusDays(k)} 12:34:56"

  /** What the server does for a bound portal: announce the binding on the
    * session, then run the bound text.
    */
  private def bound(s: Session, template: String, params: Seq[String]): DataFrame = {
    val text = Pgwire.bindParams(template, params)
    s.binding = Some(Binding(template, params, text))
    engine.run(text, s)
  }
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("distinct int, bigint, date and timestamp keys reuse one plan and its classes") {
    val s = engine.newSession()
    val lookup = "select i, s from gp where i = $1 and b = $2 and d = $3 and ts = $4"
    def keys(k: Int) = Seq(k.toString, (k * 10000000000L).toString, day(k), stamp(k))
    assert(rows(bound(s, lookup, keys(0))) == Seq("[0,v0]"))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = compiles.getCount
    val h0 = engine.planCacheHits.get
    (1 until 30).foreach { k =>
      assert(rows(bound(s, lookup, keys(k))) == Seq(s"[$k,v$k]"))
    }
    assert(engine.planCacheHits.get - h0 == 29, "an execution re-planned its template")
    assert(compiles.getCount - c0 <= 2,
      s"${compiles.getCount - c0} classes compiled for 29 new keys")
  }

  test("seeded bindings give the bound-text path's rows") {
    val s = engine.newSession()
    val rng = new scala.util.Random(11)
    def key = rng.nextInt(45).toString
    def dayKey = day(rng.nextInt(45) - 2)
    val cases: Seq[(String, Seq[String])] = Seq.fill(4)(
      "select i, s from gp where i = $1" -> Seq(key)) ++ Seq(
      "select i, s from gp where i = $1" -> Seq("abc"),
      "select i, s from gp where i = $1" -> Seq(" 7 "),
      "select i, s from gp where i = $1" -> Seq(null),
      "select i from gp where b > $1" -> Seq((rng.nextInt(40) * 10000000000L).toString),
      "select i from gp where s = $1 or i < $2" -> Seq("v3", key),
      "select upper($1) as u, i from gp where i = 2" -> Seq("x")) ++ Seq.fill(3)(
      "select count(*) as n from gp where d between $1 and $2" -> Seq(dayKey, dayKey)) ++ Seq.fill(2)(
      "select i from gp where ts >= $1 and ts < $2" -> Seq(stamp(rng.nextInt(40)), stamp(rng.nextInt(40))))
    // a failure is an outcome too
    def outcome(df: => DataFrame) = scala.util.Try(rows(df)).toOption
    cases.foreach { case (template, params) =>
      val text = Pgwire.bindParams(template, params)
      assert(outcome(bound(s, template, params)) == outcome(engine.run(text)), text)
    }
    // a LIMIT count binds as the integer it is: the literal text's rows
    val limited = "select i from gp order by i limit $1"
    assert(Pgwire.bindParams(limited, Seq(" 5")) == "select i from gp order by i limit 5")
    assert(rows(bound(s, limited, Seq("5"))) ==
      rows(engine.run("select i from gp order by i limit 5")))
    val err = intercept[IllegalArgumentException](Pgwire.bindParams(limited, Seq("five")))
    assert(err.getMessage == "invalid input syntax for type bigint: \"five\"")
  }

  test("a template runs generic only where a value cannot change the plan") {
    val s = engine.newSession()
    def hits(template: String, params: Seq[String]*): Long = {
      val h0 = engine.planCacheHits.get
      params.foreach(p => bound(s, template, p).collect())
      engine.planCacheHits.get - h0
    }
    assert(hits("select i from gp where i >= $1", Seq("30"), Seq("31"), Seq("32")) == 2)
    // a value in the result, NULL folding the filter away, LIKE needing a
    // foldable pattern: each takes the bound-text path, whose distinct
    // texts never hit
    assert(hits("select i, $1 as tag from gp where i = 1", Seq("a"), Seq("b"), Seq("c")) == 0)
    assert(hits("select i from gp where i >= $1", Seq(null), Seq(null)) == 1)
    assert(hits("select i from gp where s like $1", Seq("v1%"), Seq("v2%")) == 0)
  }

  test("an UPDATE between two executions is visible") {
    val s = engine.newSession()
    val lookup = "select s from gp where i = $1"
    assert(rows(bound(s, lookup, Seq("39"))) == Seq("[v39]"))
    engine.run("update gp set s = 'changed' where i = 39")
    assert(rows(bound(s, lookup, Seq("39"))) == Seq("[changed]"))
  }

  test("a lookup keeps its Parquet pushdown and tokenizes only its filter") {
    val s = engine.newSession()
    val lookup = "select s from gp where i = $1"
    bound(s, lookup, Seq("4")).collect()
    val plan = bound(s, lookup, Seq("5")).queryExecution.executedPlan
    assert(plan.toString.contains("PushedFilters: [IsNotNull(i), EqualTo(i,5)]"), plan)
    val filters = plan.collect { case f: FilterExec => f.condition }
    assert(filters.nonEmpty && filters.forall(_.exists(_.isInstanceOf[RefLiteral])), plan)
  }

  test("comparison literals of every primitive type evaluate through references") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 20).select(col("id"),
      col("id").cast("int").as("i"), col("id").cast("short").as("h"),
      col("id").cast("byte").as("y"), col("id").cast("float").as("f"),
      (col("id") / 2).as("x"), date_add(lit("2020-01-01").cast("date"), col("id").cast("int")).as("d"),
      timestamp_seconds(col("id")).as("t"))
    val q = df.filter(col("i") > 3 && col("h") < 15.toShort && col("y") =!= 7.toByte &&
      col("f") >= 4.5f && col("x") <= 7.0 && col("d") > lit("2020-01-05").cast("date") &&
      col("t") < timestamp_seconds(lit(12L)) && col("id") =!= 10L)
    assert(q.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L, 8L, 9L, 11L))
    assert(q.queryExecution.executedPlan.collect { case f: FilterExec => f }
      .exists(_.condition.collect { case r: RefLiteral => r }.size >= 7))
    // a join condition no side can evaluate alone
    val l = spark.range(0, 10).select(col("id").as("k"), col("id").as("a"))
    val r = spark.range(0, 10).select(col("id").as("k2"), (col("id") * 2).as("b"))
    val j = l.join(r, col("k") === col("k2") && col("a") + col("b") > 12L)
    assert(j.collect().map(_.getLong(0)).sorted.toSeq == (5L until 10L))
    assert(find(j.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        b.condition.exists(_.exists(_.isInstanceOf[RefLiteral]))
      case _ => false
    }.isDefined)
  }

  test("two connections run one template concurrently") {
    val server = new ServerSocket(0)
    val acceptor = new Thread(() => Server.serve(server, engine), "graft-generic-spec")
    acceptor.setDaemon(true)
    acceptor.start()
    def value(ms: Seq[(Char, Array[Byte])]): String = {
      val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(
        ms.collectFirst { case ('D', b) => b }.get))
      d.readShort()
      val v = new Array[Byte](d.readInt()); d.readFully(v)
      new String(v, StandardCharsets.UTF_8)
    }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val clients = (0 until 2).map { c =>
        new Thread(() => {
          val pg = new PgClient(server.getLocalPort)
          try {
            pg.startup()
            (0 until 10).foreach { n =>
              val k = c * 10 + n
              pg.parse("", "select i * 2 as twice from gp where i = $1")
              pg.bind("", "", params = Seq(k.toString.getBytes(StandardCharsets.UTF_8)))
              pg.execute("", 0)
              val got = value(pg.sync())
              if (got != (2 * k).toString) failures.add(s"key $k: $got")
            }
          } catch { case e: Exception => failures.add(e.toString) }
          finally pg.close()
        })
      }
      clients.foreach(_.start())
      clients.foreach(_.join())
      assert(failures.isEmpty, failures)
    } finally server.close()
  }
}
