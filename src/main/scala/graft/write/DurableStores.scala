package graft.write

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.util.AtomicFlip

/** Durable [[ConditionalStore]] implementations — the restart-surviving
  * arbiters CAS mode needs to hold real data. [[InMemoryConditionalStore]]
  * is the per-JVM reference cell: correct for tests and single-process
  * runs, but the pointer (and therefore the table) evaporates with the
  * process. The reference deployment's arbiter is a Postgres-backed Hive
  * Metastore on a persistent volume
  * (`/root/reference/docker-compose.yml:105-116`,
  * `trino/catalog/iceberg.properties:3-4`) — these two are the
  * self-contained equivalents:
  *
  *  - [[FileConditionalStore]]: the cell lives as GENERATION FILES in a
  *    directory; `putIf` wins by create-exclusive on the next generation
  *    name — the same protocol Iceberg's `HadoopTableOperations` commits
  *    metadata versions with, built on the exact primitive
  *    ([[AtomicFlip.publishExclusive]]) the Fs commit path already
  *    trusts. Multi-process safe on POSIX/HDFS; refuses object-store
  *    schemes (their create is last-writer-wins — on those, use a
  *    catalog-backed store, which is what CAS mode exists for).
  *
  *  - [[JdbcConditionalStore]]: the cell is a row in any JDBC database;
  *    `putIf` wins by an optimistic-generation conditional UPDATE
  *    (`... WHERE cell = ? AND gen = ?`, row-atomic in every SQL
  *    engine) — the catalog-database shape (HMS/JDBC-catalog class),
  *    provable against the embedded Derby that ships with Spark.
  *
  * Both provide NOTHING beyond the [[ConditionalStore]] contract, so
  * every arbitration property the CAS specs pin holds unchanged.
  */
object DurableStores // scaladoc anchor

/** File-backed conditional store: one logical cell persisted as
  * monotonically numbered generation files `gen_<N>.val` under `dir`.
  *
  * Protocol (lock-free, no lock file to go stale under a crash):
  *
  *  - `get()` = read the HIGHEST generation file's content.
  *  - `putIf(expected, value)` = re-read the highest generation
  *    `(G, cur)`; refuse unless `cur == expected`; then attempt
  *    create-exclusive on `gen_<G+1>.val` with the new value. Exactly
  *    one of N racing writers creates that name — the filesystem is the
  *    arbiter, exactly as in Fs commit mode, so two handles (or two
  *    processes) on the same directory share a single winner per
  *    generation.
  *
  * Crash safety: [[AtomicFlip.publishExclusive]] publishes
  * atomic-with-content (a generation file is never visible torn); a
  * writer crashing BEFORE the publish leaves only a `.tmp` staging file,
  * swept by the winner-side GC below. A crash AFTER the publish IS a
  * completed put — the next reader serves it.
  *
  * GC: each winning put deletes generations more than
  * [[FileConditionalStore.KeepGenerations]] below the new head (and
  * stale `.tmp` staging debris below the same cutoff). A reader that
  * lists head G and races `KeepGenerations` consecutive commits before
  * opening G's file re-lists and retries — bounded, and unreachable in
  * practice at that window size.
  *
  * ABA note: a slow writer that read generation G may attempt
  * `gen_<G+1>` after GC has deleted that name; the create then succeeds
  * but lands BELOW the current head, so no reader ever serves it. Two
  * guards keep that from becoming a FALSELY-REPORTED commit (a `putIf`
  * returning true for a value that is never served): (a) GC has an age
  * floor — only generations older than `gcAgeFloorMs` are swept (up to
  * a `gcMaxRetained` distance bound, so a hot cell cannot accumulate
  * unboundedly within the floor window), so a read-to-create stall
  * shorter than the floor can never meet a recreated name unless it
  * also fell `gcMaxRetained` generations behind; and (b) every winning create re-lists and
  * checks the head: a head more than `keepGenerations` past the won
  * slot is only possible on a recreated name (heads advance densely,
  * so the slot must have been created and GC'd before our attempt) —
  * the orphan value is deleted and the put THROWS rather than returning
  * either way, because an ultra-fast chain of successors could in
  * principle produce the same observation after a genuine win.
  * [[CasVersionPointer]]'s indeterminate-outcome check resolves that
  * residual ambiguity content-wise (is OUR attempt in the live chain?);
  * direct users treat it as what it is: commit state unknown, re-read
  * before retrying.
  *
  * DEPLOYMENT NOTE: create-exclusive is trusted on POSIX-local and
  * HDFS. NFS honors `O_EXCL` only on v3+ with proper server support —
  * on older/misconfigured NFS two writers can both "win"; put the cell
  * on a local/HDFS path or use [[JdbcConditionalStore]] there (the
  * same class of refusal as the object-store probe below, but not
  * detectable from the URI scheme, hence a note instead of a guard).
  */
class FileConditionalStore(fs: FileSystem, dir: Path,
                           keepGenerations: Int =
                             FileConditionalStore.KeepGenerations,
                           gcAgeFloorMs: Long =
                             FileConditionalStore.GcAgeFloorMs,
                           gcMaxRetained: Int =
                             FileConditionalStore.GcMaxRetained)
    extends ConditionalStore {
  require(keepGenerations >= 2,
    s"keepGenerations must be >= 2 (got $keepGenerations): a reader " +
      "needs at least one generation of slack behind the head")
  require(gcAgeFloorMs >= 0, "gcAgeFloorMs must be >= 0")
  require(gcMaxRetained >= keepGenerations,
    s"gcMaxRetained must be >= keepGenerations (got $gcMaxRetained " +
      s"< $keepGenerations)")

  // same unsafe-scheme refusal as SnapshotTable's commit-safety probe:
  // this store's arbiter IS filesystem create-exclusive, which
  // S3-class stores do not provide — there the pointer belongs in a
  // conditional-write catalog, not in files
  {
    val scheme = Option(dir.toUri.getScheme).getOrElse(fs.getScheme)
    val unsafe =
      Set("s3", "s3a", "s3n", "gs", "oss", "swift", "cos", "wasb", "wasbs")
    require(!unsafe.contains(scheme),
      s"FileConditionalStore at $dir: scheme '$scheme' has no atomic " +
        "create-exclusive, so generation files cannot arbitrate a single " +
        "winner. Back the cell with the deployment's catalog " +
        "(JdbcConditionalStore or a custom ConditionalStore) instead.")
  }

  private val rfs = AtomicFlip.raw(fs)

  private def genPath(g: Long): Path = new Path(dir, f"gen_$g%012d.val")

  // `{12,}` not `{12}`: f"%012d" PADS to twelve digits but renders
  // thirteen past generation 10^12 — an exact-width parse would stop
  // seeing the head there (the same rollover the branch-manifest
  // parser in FsVersionPointer guards with its >= 5 rule)
  private val GenName = "gen_(\\d{12,})\\.val".r
  private val TmpName = "\\.gen_(\\d{12,})\\.val\\.[0-9a-f]{8}\\.tmp".r

  private def listGens(): Seq[Long] =
    if (!rfs.exists(dir)) Seq.empty
    else rfs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case GenName(n) => n.toLong
    }.sorted

  private def readGen(g: Long): Option[String] =
    SnapshotTable.readTextIfExists(rfs, genPath(g))

  /** Highest (generation, value), re-listing if a GC raced the read —
    * each retry means `KeepGenerations` commits landed inside one
    * list-to-open window, so the bound is never hit in practice. */
  private def current(): Option[(Long, String)] = {
    var attempts = 0
    while (attempts < 5) {
      listGens().maxOption match {
        case None => return None
        case Some(g) => readGen(g) match {
          case Some(v) => return Some((g, v))
          case None => attempts += 1
        }
      }
    }
    sys.error(s"FileConditionalStore at $dir: head generation vanished " +
      "5 times in a row — GC churn beyond the retention window " +
      "(raise the keepGenerations constructor parameter or quiesce " +
      "writers)")
  }

  override def get(): Option[String] = current().map(_._2)

  /** Test seam: runs between the head read and the create attempt —
    * overriding it is how the spec makes the read-to-create stall
    * deterministic (the lost-commit guard's race window). No-op in
    * production. */
  protected def beforeCreate(next: Long): Unit = ()

  override def putIf(expected: Option[String], value: String): Boolean = {
    val cur = current()
    if (cur.map(_._2) != expected) return false
    val next = cur.map(_._1).getOrElse(0L) + 1L
    beforeCreate(next)
    val won = AtomicFlip.publishExclusive(fs, genPath(next),
      value.getBytes("UTF-8"))
    if (!won) return false
    // lost-commit guard (see the ABA note): heads advance densely, so
    // our create could only succeed with the head ALREADY past
    // next + keepGenerations if gen_<next> had been created and GC'd
    // before our attempt — i.e. this writer stalled past the retention
    // window and its value landed below the head, never to be served.
    // A head within the window proves a genuine win (the slot cannot
    // have been GC'd: the cutoff never reached it).
    val headNow = listGens().maxOption.getOrElse(next)
    if (headNow - next > keepGenerations) {
      try { rfs.delete(genPath(next), false); () }
      catch { case _: java.io.IOException => () }
      // THROW, not false: after a genuine win, >keepGenerations
      // successors chaining inside this list window would look
      // identical — the outcome is indeterminate from generation
      // numbers alone. CasVersionPointer's landed-check resolves it
      // by content; a direct caller must re-read before retrying.
      sys.error(s"FileConditionalStore at $dir: won gen_$next but the " +
        s"head is already gen_$headNow — this writer stalled past the " +
        s"GC retention window ($keepGenerations generations) between " +
        "read and create, and its value landed below the head " +
        "(commit state indeterminate; re-read the cell before retrying)")
    }
    gc(next)
    true
  }

  /** Winner-side sweep: generations (and crashed writers' staging
    * `.tmp` files) more than `keepGenerations` below the just-won head
    * AND older than the age floor — the floor keeps a stalled writer's
    * read-to-create window from ever meeting a recreated generation
    * name unless the stall outlives `gcAgeFloorMs` (and even then the
    * post-win head check above turns the would-be lost commit into a
    * loud indeterminate outcome). Best-effort — a failed delete is
    * retried by the next winner. */
  private def gc(head: Long): Unit = {
    val cutoff = head - keepGenerations
    if (cutoff <= 0 || !rfs.exists(dir)) return
    val ageCutoff = System.currentTimeMillis() - gcAgeFloorMs
    // the age floor yields to a hard distance cap: a hot cell (commits
    // every few hundred ms) would otherwise retain every generation of
    // the floor window and every get()/putIf() re-lists them all —
    // O(commits-per-floor) per op. Sweeping past the cap re-opens the
    // recreated-name window ONLY for a writer stalled behind
    // gcMaxRetained successors, and even that can never become a false
    // success: the post-win head check above still fires and raises
    // indeterminate.
    val capCutoff = head - gcMaxRetained
    rfs.listStatus(dir).foreach { st =>
      val doomed = (st.getPath.getName match {
        case GenName(n) =>
          n.toLong < cutoff &&
            (st.getModificationTime < ageCutoff || n.toLong < capCutoff)
        case TmpName(n) =>
          n.toLong < cutoff &&
            (st.getModificationTime < ageCutoff || n.toLong < capCutoff)
        case _ => false
      })
      if (doomed) {
        try { rfs.delete(st.getPath, false); () }
        catch { case _: java.io.IOException => () }
      }
    }
  }
}

object FileConditionalStore {
  /** Default generations retained behind the head — the race window a
    * reader's list-then-open must fit inside (see
    * [[FileConditionalStore]]); override per store via the
    * constructor. */
  val KeepGenerations = 8

  /** Default GC age floor: a generation younger than this survives the
    * sweep regardless of its distance below the head, so a writer's
    * read-to-create stall shorter than the floor can never hit a
    * recreated generation name (the lost-commit precondition). Ten
    * minutes dwarfs any realistic GC pause or fs hiccup; the cost is a
    * few retained metadata-sized files per active cell. */
  val GcAgeFloorMs: Long = 10L * 60 * 1000

  /** Hard bound on generations the age floor can retain: past this
    * distance below the head a generation is swept regardless of age,
    * so a HOT cell (sub-second commits would otherwise accumulate
    * commits-per-floor-window files, and every get/putIf re-lists them
    * all) stays O(gcMaxRetained) per op. Yielding the floor past the
    * cap is safe: a writer stalled behind this many successors that
    * then wins a recreated name is caught by the post-win head check,
    * which raises indeterminate rather than reporting a false
    * success. */
  val GcMaxRetained: Int = 1024

  /** Open (or create) the cell directory at `dir`, resolving the
    * filesystem from the active Spark session's Hadoop configuration
    * when one exists (so `fs.defaultFS` and credentials apply), else a
    * fresh default configuration. */
  def open(dir: String): FileConditionalStore = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    val p = new Path(dir)
    new FileConditionalStore(p.getFileSystem(conf), p)
  }
}

/** JDBC-backed conditional store: the cell is one row of a
  * `graft_cas (cell, gen, val)` table; `putIf` arbitrates through an
  * optimistic-generation conditional UPDATE. The catalog-database
  * deployment shape (the reference arbitrates through a Postgres-backed
  * HMS); tested here against Spark's bundled embedded Derby.
  *
  * Concurrency: `gen` is the server-side token. A put re-reads
  * `(gen, val)`, refuses client-side unless `val == expected`, then
  * issues `UPDATE ... SET gen = gen+1, val = ? WHERE cell = ? AND
  * gen = ?` — single-statement row atomicity (every SQL engine) makes
  * exactly one of N racers match the old generation. First-write races
  * arbitrate through the primary key: one `INSERT` wins, the duplicate
  * loses as a constraint violation mapped to `false`.
  *
  * One handle = one connection; ops on a handle serialize on the
  * handle's monitor (JDBC connections are not thread-safe), but
  * cross-handle races are arbitrated by the database, which is the
  * contract. Close with [[close]] (try-with-resources friendly).
  *
  * Connection loss (the NORMAL case against a real network database —
  * idle timeouts, failovers, restarts): a READ that dies reconnects
  * once and retries (idempotent); reconnect failing too raises loudly
  * naming the remedy. A conditional WRITE that dies mid-statement is
  * NEVER silently retried — the statement may have applied before the
  * drop, so a retry could double-commit and a silent `false` could
  * report a landed commit as lost. It raises instead (commit state
  * indeterminate); [[CasVersionPointer]]'s landed-check resolves the
  * ambiguity by content, and the handle heals itself on the next op.
  *
  * Duplicate-key recognition covers `SQLIntegrityConstraintViolation-
  * Exception` and every `23xxx` SQLState (the SQL-standard
  * integrity-violation class: Derby/Postgres `23505`, MySQL `23000`,
  * Oracle via the exception subclass). */
class JdbcConditionalStore(url: String, cellName: String)
    extends ConditionalStore with AutoCloseable {

  // Derby boots once per JVM and writes derby.log to CWD unless told
  // otherwise; route it to tmp if nothing configured it yet (no-op for
  // non-Derby URLs and for already-booted engines)
  if (System.getProperty("derby.stream.error.file") == null)
    System.setProperty("derby.stream.error.file",
      System.getProperty("java.io.tmpdir") + "/graft_derby.log")

  private def connect(): java.sql.Connection = {
    val c = java.sql.DriverManager.getConnection(url)
    c.setAutoCommit(true)
    c
  }

  private var conn = connect()
  private var closed = false

  /** The URL as error messages may print it: JDBC URLs routinely embed
    * credentials (`...;password=...`, `user:pw@host`), and a refusal
    * that echoes them turns every log line into a secret leak. */
  private val safeUrl: String = url
    .replaceAll("(?i)(password|pwd|secret)=[^;&?]*", "$1=***")
    .replaceAll("://([^/@:]+):[^/@]+@", "://$1:***@")

  // idempotent bootstrap: racing handles may both CREATE — the loser's
  // error is fine iff the table is actually there. Any construction
  // failure closes the connection before rethrowing (a handle that was
  // never handed out must not leak its connection).
  try {
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        "CREATE TABLE graft_cas (" +
          "cell VARCHAR(256) NOT NULL PRIMARY KEY, " +
          "gen BIGINT NOT NULL, " +
          "val CLOB NOT NULL)")
      finally st.close()
    } catch {
      case e: java.sql.SQLException =>
        val probe = conn.createStatement()
        try {
          val rs = probe.executeQuery("SELECT 1 FROM graft_cas WHERE 1=0")
          rs.close() // table exists — the CREATE lost a benign race
        } catch { case _: java.sql.SQLException => throw e }
        finally probe.close()
    }
  } catch {
    case e: Throwable =>
      try conn.close() catch { case _: java.sql.SQLException => () }
      throw e
  }

  /** Is this exception (or the handle's state) a dead connection? The
    * standard signals: the non-transient/transient-connection and
    * recoverable subclasses, SQLState class `08xxx` (connection
    * exception), Derby's session-death `XJ001`/`XJ015`-era shapes land
    * in `08xxx` too, plus a direct probe of the connection itself. */
  private def connectionDead(e: java.sql.SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLNonTransientConnectionException] ||
      e.isInstanceOf[java.sql.SQLTransientConnectionException] ||
      e.isInstanceOf[java.sql.SQLRecoverableException] ||
      Option(e.getSQLState).exists(_.startsWith("08")) ||
      (try conn.isClosed catch { case _: java.sql.SQLException => true })

  private def duplicateKey(e: java.sql.SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
      Option(e.getSQLState).exists(_.startsWith("23"))

  /** Run an IDEMPOTENT op, reconnecting once if the connection died;
    * reconnect failing too refuses loudly naming the remedy. */
  private def withReconnect[T](op: java.sql.Connection => T): T = {
    require(!closed, s"JdbcConditionalStore at $safeUrl is closed")
    try op(conn)
    catch {
      case e: java.sql.SQLException if connectionDead(e) =>
        try conn.close() catch { case _: java.sql.SQLException => () }
        conn =
          try connect()
          catch {
            case re: java.sql.SQLException => throw new IllegalStateException(
              s"JdbcConditionalStore at $safeUrl: connection lost " +
                s"(${e.getMessage}) and reconnect failed " +
                s"(${re.getMessage}) — restore database connectivity, " +
                "then retry; the handle reconnects on its next use", re)
          }
        op(conn)
    }
  }

  private def readRow(c: java.sql.Connection): Option[(Long, String)] = {
    val ps = c.prepareStatement(
      "SELECT gen, val FROM graft_cas WHERE cell = ?")
    try {
      ps.setString(1, cellName)
      val rs = ps.executeQuery()
      try { if (rs.next()) Some((rs.getLong(1), rs.getString(2))) else None }
      finally rs.close()
    } finally ps.close()
  }

  override def get(): Option[String] =
    synchronized { withReconnect(readRow).map(_._2) }

  override def putIf(expected: Option[String], value: String): Boolean =
    synchronized {
      // the read retries across a reconnect (idempotent); the write
      // below never does — see the class doc
      def indeterminate(e: java.sql.SQLException): Nothing =
        throw new IllegalStateException(
          s"JdbcConditionalStore at $safeUrl: connection died mid " +
            "conditional write — the statement may or may not have " +
            "applied (commit state indeterminate). Re-read the cell " +
            "before retrying; the handle reconnects on its next use.", e)
      withReconnect(readRow) match {
        case None =>
          if (expected.isDefined) false
          else {
            val ps = conn.prepareStatement(
              "INSERT INTO graft_cas (cell, gen, val) VALUES (?, 1, ?)")
            try {
              ps.setString(1, cellName); ps.setString(2, value)
              ps.executeUpdate(); true
            } catch {
              // a racing first-writer beat us to the primary key
              case e: java.sql.SQLException if duplicateKey(e) => false
              case e: java.sql.SQLException if connectionDead(e) =>
                indeterminate(e)
            } finally ps.close()
          }
        case Some((gen, cur)) =>
          if (!expected.contains(cur)) false
          else {
            val ps = conn.prepareStatement(
              "UPDATE graft_cas SET gen = ?, val = ? " +
                "WHERE cell = ? AND gen = ?")
            try {
              ps.setLong(1, gen + 1); ps.setString(2, value)
              ps.setString(3, cellName); ps.setLong(4, gen)
              ps.executeUpdate() == 1
            } catch {
              case e: java.sql.SQLException if connectionDead(e) =>
                indeterminate(e)
            } finally ps.close()
          }
      }
    }

  override def close(): Unit = synchronized {
    closed = true
    try conn.close() catch { case _: java.sql.SQLException => () }
  }
}
