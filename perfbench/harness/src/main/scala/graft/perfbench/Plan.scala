package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** One statement of a generated workload.
  *
  * @param role   closed loop: the connection that sends it; open loop: -1
  * @param cls    statement class (TPC-H template, lookup kind, DML verb)
  * @param proto  'Q' simple-query protocol, 'X' extended with one parameter
  * @param schedUs open loop: arrival offset from the window start
  */
final case class Stmt(
    id: Int,
    role: Int,
    cls: String,
    proto: Char,
    schedUs: Long,
    keep: Keep,
    sql: String,
    param: String,
    copy: Path) {
  def isWrite: Boolean = cls.startsWith("w_")
}

/** The inputs perfbench/workloads.py writes for one run:
  * `config.tsv` (key, value), `warmup.tsv` and `statements.tsv`, one
  * statement per line with tabs, newlines and backslashes escaped.
  */
final class Plan(val dir: Path) {
  val conf: Map[String, String] = lines("config.tsv").map { l =>
    val Array(k, v) = l.split("\t", 2); k -> v
  }.toMap

  def apply(k: String): String = conf.getOrElse(k, sys.error(s"plan config lacks $k"))
  def int(k: String): Int = apply(k).toInt

  lazy val warmup: Vector[Stmt] = stmts("warmup.tsv")
  lazy val statements: Vector[Stmt] = stmts("statements.tsv")

  private def lines(name: String): Vector[String] =
    Files.readAllLines(dir.resolve(name), UTF_8).asScala.toVector.filter(_.nonEmpty)

  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => b += '\t'
          case 'n' => b += '\n'
          case other => b += other
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  private def stmts(name: String): Vector[Stmt] = lines(name).zipWithIndex.map { case (l, i) =>
    val f = l.split("\t", -1)
    Stmt(i, f(0).toInt, f(1), f(2).head, f(3).toLong,
      if (f(4) == "digest") KeepDigest else KeepRows,
      unescape(f(5)), unescape(f(6)),
      if (f(7).isEmpty) null else dir.resolve(f(7)))
  }
}
