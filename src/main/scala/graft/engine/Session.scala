package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** Undo record for one table at its first touch inside an open
  * transaction: the version to restore to plus the metadata the
  * version log does not carry (defaults/checks are current-state
  * metadata; RESTORE inside the txn may also have moved the schema).
  */
private[engine] case class TxnUndo(version: Int, schema: StructType,
    pk: Seq[String], dflts: Option[Map[String, String]],
    chks: Option[Vector[(String, String)]], rows: Option[Long])

/** SQL-level cursor state (pg surface — the psql/ETL counterpart of the
  * wire protocol's suspended portals). DECLARE materializes the result
  * once into a private spill directory and FETCH streams from THAT
  * snapshot — pg's cursor visibility, and the only shape that survives
  * a DELETE/UPDATE/REFRESH rewriteSwap between FETCHes.
  */
private[engine] sealed trait CursorState {
  def schema: StructType
  def dir: java.nio.file.Path
}

/** Default (NO SCROLL) cursor: a forward-only iterator over the spilled
  * snapshot — no per-FETCH Spark job, the ETL fast path. Backward
  * directions error, like pg's non-SCROLL cursors.
  */
private[engine] final case class ForwardCursor(
    it: java.util.Iterator[org.apache.spark.sql.Row],
    schema: StructType, dir: java.nio.file.Path) extends CursorState

/** SCROLL cursor: the snapshot carries a CONTIGUOUS 1-based position
  * column (materialized once at DECLARE), so every pg direction —
  * PRIOR/FIRST/LAST/ABSOLUTE/RELATIVE/BACKWARD — is ordinal range
  * arithmetic + a pruned scan of the spill. `pos` follows pg exactly:
  * 0 = before first row, total+1 = after last.
  */
private[engine] final class ScrollCursor(val snap: DataFrame, val ordCol: String,
    val total: Long, val schema: StructType, val dir: java.nio.file.Path)
    extends CursorState { var pos: Long = 0L }

/** An extended-protocol statement about to run: its Parse text with `$n`
  * placeholders, the text values bound to them, and the bound statement
  * text the server passes to [[Engine.run]].
  */
private[graft] final case class Binding(template: String,
    params: Seq[String], text: String)

/** Per-connection engine session: the transaction block (undo set,
  * abort flag, savepoints) and DECLAREd cursors that used to be
  * engine-global single-instance fields. The Server allocates one per
  * pgwire/line-protocol connection ([[Engine.newSession]]) and passes
  * it to every [[Engine.run]], so two autocommit-off clients no longer
  * silently join ONE transaction (the round-14 divergence where A's
  * ROLLBACK erased B's work) and same-named cursors don't collide.
  * Direct embedders (REPL, tests, Verify/Bench) ride the engine's
  * default session — single-session behavior is unchanged.
  *
  * Cross-session write isolation is NOWAIT table locking, not MVCC
  * (the engine is a single-writer store like the reference,
  * /root/reference/src/storage/secondary/transaction.rs:26-50): the
  * first in-transaction touch of a table locks it to the session, a
  * foreign session's write to a locked table errors immediately
  * (blocking would deadlock against the global statement write lock),
  * and reads stay last-committed-wins. Locks release at COMMIT /
  * ROLLBACK / session close (which rolls back, like pg on disconnect).
  */
final class Session private[engine] (private[graft] val id: Long) {
  /** Statement-scoped localCheckpoint hygiene (r19, guide §5): every DML
    * path's internal checkpoint registers its RDD ids here; the NEXT
    * top-level [[Engine.run]] on this session releases them (deferred by
    * one statement so RETURNING frames and the returned result stay
    * materializable until the client has consumed them — pgwire is
    * sequential per session). Without this, a long INSERT/UPDATE/MERGE
    * session pins one or more block-manager RDDs per statement for its
    * whole lifetime (r18 left this as the known remaining leak).
    */
  private[engine] val pendingCkptRelease = mutable.Buffer[Int]()
  /** Version directories the last top-level statement's result reads
    * (see [[Engine.takePins]]): released at the next top-level statement
    * unless a consumer took them over first.
    */
  private[engine] val pins = mutable.Buffer[java.nio.file.Path]()
  /** Re-entrancy depth of [[Engine.run]]: internal statements (CTE DML
    * members, matview refresh bodies) must not release the enclosing
    * statement's checkpoints mid-flight.
    */
  private[engine] var runDepth = 0
  private[engine] var txnOpen = false
  private[engine] var txnAborted = false
  private[engine] val txnUndo = mutable.LinkedHashMap[String, TxnUndo]()
  private[engine] val txnSavepoints =
    mutable.Buffer[(String, Map[String, TxnUndo])]()
  /** Isolation (r15): snapshot reads ON = REPEATABLE READ / SERIALIZABLE
    * — each table's version pins at the transaction's FIRST read
    * ([[txnReadSnap]]) and every later read serves that snapshot from
    * the version log; OFF = READ COMMITTED (pg's default — statements
    * read last-committed). `txnReadOnly` enforces pg's READ ONLY mode.
    * The `default*` twins are the session characteristics
    * (SET SESSION CHARACTERISTICS AS TRANSACTION ...), applied by BEGIN
    * when the statement carries no explicit mode.
    */
  private[engine] var txnSnapshotReads = false
  private[engine] var txnReadOnly = false
  private[engine] var defaultSnapshotReads = false
  private[engine] var defaultReadOnly = false
  private[engine] val txnReadSnap = mutable.LinkedHashMap[String, Int]()
  private[engine] val cursors = mutable.LinkedHashMap[String, CursorState]()
  /** SQL-level PREPAREd statements (pg scopes these per session and
    * drops them on disconnect). TrieMap defensively: a session's
    * statements normally run on one thread at a time, but the map must
    * not depend on the Server's lock routing.
    */
  private[engine] val prepared =
    scala.collection.concurrent.TrieMap[String, String]()
  /** Sequence session state (pg): `currval('s')` returns the last value
    * nextval/setval obtained FOR THIS SESSION (error before the first
    * call), `lastval()` the most recent of those across sequences.
    * Cleared by DISCARD ALL / DISCARD SEQUENCES (pool recycle).
    */
  private[engine] val seqCurr = mutable.Map[String, Long]()
  private[engine] var seqLast: Option[String] = None
  /** Session-scoped SET overlay (r16). Display/locale confs — TimeZone,
    * DateStyle and friends — land ONLY here, never on the one shared
    * SparkSession, so two pgwire clients in different zones render
    * timestamps independently (pgJDBC issues SET TimeZone at connect;
    * with a global conf they corrupted each other's timestamp text).
    * Non-display keys still write the global conf (they change
    * execution semantics of the single shared session — documented
    * divergence) but record their value here too, so RESET/DISCARD can
    * undo per session. TrieMap: reads happen on the Server's shared
    * read-lock paths.
    */
  private[graft] val confOverlay =
    scala.collection.concurrent.TrieMap[String, String]()
  /** Per-session pragma map + the vector-index planner toggle (pg GUC
    * semantics: a pragma set on one connection must not re-plan another
    * connection's queries). Engine-execution valves that necessarily
    * live on the shared SparkSession (optimizer flags, CTE recursion
    * limits) keep their global effect — documented — but their declared
    * value is still recorded here per session.
    */
  private[engine] val pragmas =
    scala.collection.concurrent.TrieMap[String, String]()
  private[engine] var vectorIndexEnabled = true
  /** Per-session temp namespace (r18): lowercase alias → (mangled real
    * object name, kind "table"|"view"). CREATE TEMP TABLE/VIEW creates
    * the real object under `graft_temp_<sid>_<alias>`; every statement
    * this session runs rewrites alias references to the mangled name
    * (pg's temp-schema-first resolution: a temp table shadows a
    * same-named permanent one). Other sessions never learn the alias,
    * so two connections' same-named temps cannot collide; the objects
    * drop on disconnect and on DISCARD TEMP/ALL, like pg.
    */
  private[engine] val tempObjects =
    mutable.LinkedHashMap[String, (String, String)]()
  /** Set by the server right before it runs a bound portal; the next
    * top-level [[Engine.run]] of this session takes it and may serve the
    * statement from its template's generic plan. While the engine plans
    * the template, it holds the binding again for the SELECT path to take.
    */
  @volatile private[graft] var binding: Option[Binding] = None
}
