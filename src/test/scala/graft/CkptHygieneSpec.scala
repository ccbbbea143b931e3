package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine

/** Statement-scoped checkpoint hygiene (r19, guide §5): the Engine's DML
  * paths localCheckpoint intermediates (RETURNING frames, pre-swap
  * snapshots, nondeterministic sources drawn once). Before r19 those
  * blocks pinned block-manager memory for the session's lifetime — a long
  * INSERT/UPDATE/MERGE session grew by one or more persistent RDDs per
  * statement. Now each statement's checkpoint ids are released when the
  * next top-level statement begins; this spec soaks a representative DML
  * mix and pins the no-growth property.
  */
class CkptHygieneSpec extends AnyFunSuite {
  import TestSpark._

  private def freshEngine(sub: String): Engine = {
    val dir = s"/root/repo/target/graft-tmp/$sub"
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
    }
    new Engine(spark, dir)
  }

  test("DML session does not accumulate persistent checkpoint RDDs") {
    val eng = freshEngine("ckpt-soak")
    // only the RDDs this engine checkpointed count: other suites sharing
    // the Spark session (and asynchronous cleaners) persist RDDs too
    val tracked = scala.collection.mutable.Set[Int]()
    def run(sql: String): org.apache.spark.sql.DataFrame = {
      val df = eng.run(sql)
      tracked ++= eng.pendingCheckpoints
      df
    }
    def live: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet.intersect(tracked)
    run("create table ck(id bigint, v double)")
    run("insert into ck values (1, 1.0), (2, 2.0)")
    for (i <- 3 to 12) {
      // nondeterministic source -> INSERT draws it once via checkpoint
      run(s"insert into ck select $i, rand()")
      // RETURNING paths checkpoint the post-/pre-image frames
      run(s"update ck set v = v + 1 where id = $i returning id").collect()
      run(s"delete from ck where id = ${i - 2} returning id").collect()
    }
    // MERGE pins its source once via checkpoint when nondeterministic
    run("create table cksrc(id bigint, v double)")
    run("insert into cksrc select 100, rand()")
    run("merge into ck using cksrc on ck.id = cksrc.id " +
      "when matched then update set v = cksrc.v " +
      "when not matched then insert (id, v) values (cksrc.id, cksrc.v)")
    assert(tracked.nonEmpty, "the DML mix checkpointed nothing")
    // one more statement releases the MERGE's blocks; a SELECT
    // checkpoints nothing, and the release blocks until the blocks are
    // gone, so any tracked RDD still persistent here is a leak
    val n = run("select count(*) from ck").collect()(0).getLong(0)
    assert(n > 0)
    assert(live.isEmpty, s"checkpoint RDDs outlived their statements: $live")
  }
}
