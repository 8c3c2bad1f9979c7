package graft.write

import org.apache.hadoop.fs.{FileSystem, Path}

/** A lineage of commits: main, or a named branch. As in Iceberg, main
  * is just the default branch ref — every lineage has one head, one
  * version namespace and one single-winner publish, so
  * [[VersionPointer]] and [[SnapshotTable]] take a lineage rather than
  * a main call and a branch twin of it. */
private[write] sealed trait Branch {
  /** Version `v`'s label in messages: `v7` on main, `dev@7` on a branch. */
  def label(v: Int): String
}

private[write] object Branch {
  case object Main extends Branch {
    def label(v: Int): String = s"v$v"
  }
  final case class Named(name: String) extends Branch {
    require(Named.valid(name), s"branch name must be [A-Za-z0-9_]+: '$name'")
    def label(v: Int): String = s"$name@$v"
  }
  object Named {
    def valid(name: String): Boolean =
      name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_')
  }
}

/** The COMMIT-ARBITRATION seam of [[SnapshotTable]]: who decides, among
  * N racing writers of version v of a lineage ([[Branch]]: main or a
  * named branch), which one's manifest becomes v — and where each
  * lineage's head and the named refs (tags) live. Every lineage
  * operation takes the lineage: one head read, one manifest-path
  * resolution, one version listing, one publish and one history
  * rewrite per arbitration mode.
  *
  * Two deployments exist (the same pair Iceberg supports):
  *
  *  - [[FsVersionPointer]] (default): the FILESYSTEM arbitrates.
  *    Create-exclusive on a fixed manifest name (`v00007.txt` on main,
  *    `bv_<name>_00007.txt` on a branch) is the commit point; main's
  *    head is the `CURRENT` file, kept fresh by an atomic
  *    overwrite-rename, and a branch's head is its newest manifest in
  *    the listing; tags are create-exclusive `TAG_<name>` files.
  *    Requires atomic create/rename — HDFS, local, POSIX.
  *
  *  - [[CasVersionPointer]]: a CONDITIONAL-WRITE STORE arbitrates (the
  *    Iceberg HMS/REST-catalog shape — the deployment the reference
  *    actually runs: warehouse bytes on MinIO/S3, version pointer in a
  *    catalog with compare-and-swap,
  *    `/root/reference/trino/catalog/iceberg.properties:13-14`,
  *    `dbt/profiles.yml:4-13`). Manifests are written under
  *    attempt-unique names (`v00007_<uuid>.txt`, `bv_<name>_00007_<uuid>.txt`
  *    — plain creates, safe on S3 because no two writers share a name)
  *    chained by `parentfile=` lines, and the commit point is ONE
  *    compare-and-swap of the pointer value. The value's FIRST line is
  *    main's head `"<version>|<manifestFile>"`; every named ref (tag
  *    pins, branch heads) rides the SAME value as `ref=<name>|<value>`
  *    lines, so ref creation/drop and commits on any lineage are each
  *    one CAS against the same single arbiter — nothing ref-shaped is
  *    ever create-exclusive on the filesystem (a CAS deployment exists
  *    precisely because the store lacks atomic create-exclusive, so refs
  *    must arbitrate through the catalog too, exactly where Iceberg
  *    keeps them). Version → manifest-file resolution walks a lineage's
  *    `parentfile=` chain ONCE per head move and memoizes (O(retained)
  *    metadata reads per head move, not per call).
  *
  * A table is created and lives in ONE mode; the modes' manifest names
  * are disjoint by construction (fixed vs uuid-suffixed), so opening a
  * table in the wrong mode fails loudly rather than misreading.
  */
private[write] trait VersionPointer {
  /** The lineage's head version: main's live version if the table
    * exists, a branch's newest version if the branch exists. */
  def head(b: Branch): Option[Int]
  /** Canonical manifest path for a retained version of the lineage. */
  def manifestPath(b: Branch, v: Int): Path
  /** The lineage's retained versions, ascending. */
  def versions(b: Branch): Seq[Int]
  /** Publish `content` as version `v` of the lineage, computed against
    * head `v - 1` (`v = 1` creates a branch). Exactly one racing writer
    * returns true; on true the lineage's head is `v`. False = lost the
    * race, or a guard refused the slot (see each mode). */
  def publish(b: Branch, v: Int, content: Array[Byte]): Boolean
  /** Replace the lineage's RETAINED manifests' contents preserving every
    * version's identity in the chain (the purge path — callers pass the
    * full retained set). Fs mode: one atomic overwrite-rename per
    * manifest. CAS mode: the whole chain is rebuilt COPY-ON-WRITE under
    * fresh attempt-unique names and swapped in with ONE CAS of the
    * lineage's head — an in-place overwrite has no atomic primitive on
    * the object stores CAS mode exists for (a racing reader could
    * observe a missing manifest; a crash mid-write could lose it). */
  def rewriteAll(b: Branch, contents: Map[Int, Array[Byte]]): Unit
  /** Remove main's version `v` manifest (expire path). */
  def delete(v: Int): Unit
  /** Point main's head at version `v` (crash repair — the CALLER has
    * already validated that v's manifest parses as a durable commit; a
    * torn or foreign manifest file must never be promoted). No-op in
    * modes without a created-but-unflipped window. */
  def promote(v: Int): Unit
  /** Manifest files belonging to NO retained commit — CAS losers that
    * crashed before deleting their attempt (main or branch lineages).
    * Empty in Fs mode (losers there never create a file:
    * create-exclusive refuses them). The vacuum sweep collects these
    * past the retention window. */
  def orphanManifests(): Seq[Path]
  /** All branch names. */
  def branchList(): Seq[String]
  /** Remove the whole branch (its manifests and, in CAS mode, its
    * ref). Idempotent. */
  def dropBranch(name: String): Unit

  // ---- named refs (tags): immutable single-line values arbitrated by
  // the SAME authority as the commit point. Names are namespaced by
  // the caller (`tag/<name>`); values are single-line strings. ----

  /** Create ref `name` = `value` iff absent; exactly one racing
    * creator returns true (tag immutability's primitive). */
  def refCreate(name: String, value: String): Boolean
  /** The ref's value, if it exists. */
  def refGet(name: String): Option[String]
  /** Remove a ref (idempotent). */
  def refDrop(name: String): Unit
  /** All refs, (name, value), unordered. */
  def refList(): Seq[(String, String)]
}

/** Filesystem arbitration — the default protocol, exactly as documented
  * on [[SnapshotTable]]: create-exclusive commit point on a fixed
  * manifest name, atomic-rename CURRENT pointer for main, repair()
  * finishes a crashed winner's flip. Tags are `TAG_<name>` files;
  * branch manifests are `bv_<name>_NNNNN.txt` files, create-exclusive
  * like main's, and a branch's head is its newest one. */
private[write] class FsVersionPointer(fs: FileSystem,
                                      conf: org.apache.hadoop.conf.Configuration,
                                      manifestDir: Path) extends VersionPointer {

  private val currentPath = new Path(manifestDir, "CURRENT")

  override def head(b: Branch): Option[Int] = b match {
    case Branch.Main => currentVersion()
    case _ => versions(b).maxOption
  }

  private def currentVersion(): Option[Int] =
    SnapshotTable.readTextIfExists(fs, currentPath) match {
      case Some(text) => Some(text.trim.toInt)
      case None =>
        // a table with CAS-style manifests (uuid-suffixed names) but no
        // CURRENT file was created under a conditional-write pointer —
        // reading it in Fs mode would silently serve "no table"; refuse
        // with the fix named instead. Only the cold no-CURRENT path pays
        // the listing.
        val casManifests = fs.exists(manifestDir) &&
          fs.listStatus(manifestDir).exists(
            _.getPath.getName.matches("v\\d+_[0-9a-f]{8}\\.txt"))
        if (casManifests) sys.error(
          s"table at $manifestDir was committed under a conditional-write " +
            "pointer (CAS mode): open it with its ConditionalStore " +
            "(new SnapshotTable(spark, root, partCols, Some(store)))")
        None
    }

  override def manifestPath(b: Branch, v: Int): Path = new Path(manifestDir, b match {
    case Branch.Main => f"v$v%05d.txt"
    case Branch.Named(name) => f"bv_${name}_$v%05d.txt"
  })

  /** The lineage and version a manifest file name belongs to — the one
    * name parser behind [[versions]] and [[branchList]]. A branch
    * manifest's name is everything between `bv_` and the LAST `_`, and
    * its version the all-digit token after it: branch names allow
    * digits and underscores, so `bv_daily_` is a string-prefix of
    * `bv_daily_v2_`'s manifests, and a prefix match would hand branch
    * `daily` the token `v2_00001` and throw from every maintenance op on
    * the table (vacuum/expire/purge/fsck all walk every branch). The
    * last-underscore split makes prefix-related names coexist. `>= 5`
    * digits (not `== 5`) because `f"%05d"` PADS to five digits but
    * renders six at version 100000 — an exact-5 parse would publish
    * that manifest and then never see it again, wedging the branch head
    * at 99999 with every later commit hitting the existing 100000 file.
    * Names outside both shapes (CAS attempt files, tags, CURRENT,
    * temps) belong to no lineage. */
  private def lineageOf(fileName: String): Option[(Branch, Int)] =
    if (fileName.matches("v\\d+\\.txt"))
      Some(Branch.Main -> fileName.stripPrefix("v").stripSuffix(".txt").toInt)
    else if (!(fileName.startsWith("bv_") && fileName.endsWith(".txt"))) None
    else {
      val rest = fileName.stripPrefix("bv_").stripSuffix(".txt")
      val i = rest.lastIndexOf('_')
      val (name, digits) = (rest.take(math.max(i, 0)), rest.drop(i + 1))
      if (i <= 0 || digits.length < 5 || !digits.forall(_.isDigit) ||
          !Branch.Named.valid(name)) None
      else Some(Branch.Named(name) -> digits.toInt)
    }

  private def listing(): Seq[(Branch, Int)] =
    if (!fs.exists(manifestDir)) Seq.empty
    else fs.listStatus(manifestDir).toSeq.flatMap(st => lineageOf(st.getPath.getName))

  override def versions(b: Branch): Seq[Int] =
    listing().collect { case (`b`, v) => v }.sorted

  override def branchList(): Seq[String] =
    listing().collect { case (Branch.Named(name), _) => name }.distinct.sorted

  private def flipCurrent(v: Int): Unit = {
    // monotonic guard: a DELAYED flip (a writer descheduled between its
    // manifest create and this write while a later committer flipped
    // past it) must not regress CURRENT — readers would transiently see
    // an older version and the next committer would hit a spurious
    // conflict. Check-then-write is not atomic, so the regression can
    // still land; the self-heal below closes it.
    if (currentVersion().exists(_ >= v)) return
    graft.util.AtomicFlip.writeAtomic(fs, conf, currentPath,
      v.toString.getBytes("UTF-8"))
    // self-heal the stale-flip regression: "the next flip heals it"
    // fails when a count-based expire already DELETED the regressed-to
    // version's manifest — CURRENT then points at a phantom, every
    // commit preamble fails parsing it, and no healing flip ever comes
    // (a livelock the concurrent stress fuzz reproduced). After
    // writing, re-list: a newer manifest means our write may have
    // regressed a newer flip — re-flip forward. Each pass strictly
    // advances, so the recursion is bounded by the racer count.
    val newest = versions(Branch.Main).maxOption
    if (newest.exists(_ > v)) newest.foreach(flipCurrent)
  }

  override def publish(b: Branch, v: Int, content: Array[Byte]): Boolean = b match {
    case Branch.Main =>
      // recreated-slot guard (the Fs-mode analog of the conditional
      // store's recreated-generation guards): a count-based expire
      // DELETES old manifest files, freeing their names — a writer
      // stalled past the retention window could then win
      // create-exclusive on a freed slot and "commit" into history's
      // past: CURRENT never points at it (flipCurrent's monotonic guard
      // skips the flip), so the commit would be silently lost while
      // reporting success, and the orphan file would serve WRONG rows to
      // time travel of the expired version. Pre-check: CURRENT >= v
      // before our create is definitive loss — CURRENT can only reach v
      // through this slot's own manifest, which nobody has created yet —
      // so refuse as an ordinary conflict (the caller recomputes against
      // the new current and retries).
      // (A post-win re-check of CURRENT was considered and rejected: a
      // concurrent conflict-loser's repair() legitimately PROMOTES our
      // just-created manifest and the next commit advances past it, so
      // "CURRENT > v after our create" cannot distinguish a landed
      // commit from a recreated-slot win — acting on it would delete
      // real history. The pre-check plus flipCurrent's self-heal plus
      // expire's head-frontier guard close every persistent path; the
      // residual needs a transiently regressed CURRENT read AND an
      // expired slot AND a win inside the same microsecond window.)
      if (currentVersion().exists(_ >= v)) return false
      if (!graft.util.AtomicFlip.publishExclusive(fs, manifestPath(b, v), content))
        return false
      flipCurrent(v)
      true
    case _ =>
      // a branch's head is its newest manifest, so the publish must
      // extend exactly that head (CAS mode's rule for every lineage):
      // dropBranch frees the slot names, and a writer that read head
      // v-1 before a drop — or a drop and re-create, whose head is
      // lower — would otherwise win create-exclusive on a free slot and
      // resurrect the old lineage plus its stale batch, shadowing the
      // live one. Refusing surfaces it as an ordinary conflict whose
      // retry reads the branch as it now is.
      head(b).getOrElse(0) == v - 1 &&
        graft.util.AtomicFlip.publishExclusive(fs, manifestPath(b, v), content)
  }

  override def rewriteAll(b: Branch, contents: Map[Int, Array[Byte]]): Unit =
    contents.toSeq.sortBy(_._1).foreach { case (v, content) =>
      // one atomic overwrite-rename per manifest: a reader racing the
      // rewrite sees each version's old or new manifest in full
      graft.util.AtomicFlip.writeAtomic(fs, conf, manifestPath(b, v), content)
    }

  override def delete(v: Int): Unit = fs.delete(manifestPath(Branch.Main, v), false)

  override def promote(v: Int): Unit = flipCurrent(v)

  override def orphanManifests(): Seq[Path] = Seq.empty

  override def dropBranch(name: String): Unit = {
    val b = Branch.Named(name)
    versions(b).foreach(bv => fs.delete(manifestPath(b, bv), false))
  }

  // ---- refs: TAG_<name> files, the round-1..13 on-disk layout ----

  private def refPath(name: String): Path = {
    // callers namespace tags as `tag/<name>`; the on-disk layout keeps
    // the legacy TAG_ file names so existing tables read unchanged
    require(name.startsWith("tag/"),
      s"Fs-mode refs hold tag pins only (got '$name'); branch heads " +
        "are derived from the branch manifest listing")
    new Path(manifestDir, "TAG_" + name.stripPrefix("tag/"))
  }

  override def refCreate(name: String, value: String): Boolean =
    // atomic-with-content + exclusive, same primitive as the commit
    // point; only the already-exists outcome returns false — a genuine
    // I/O failure propagates as itself from inside the publish
    graft.util.AtomicFlip.publishExclusive(fs, refPath(name),
      value.getBytes("UTF-8"))

  override def refGet(name: String): Option[String] =
    SnapshotTable.readTextIfExists(fs, refPath(name)).map(_.trim)

  override def refDrop(name: String): Unit = { fs.delete(refPath(name), false); () }

  override def refList(): Seq[(String, String)] =
    if (!fs.exists(manifestDir)) Seq.empty
    else fs.listStatus(manifestDir).map(_.getPath.getName)
      .collect { case n if n.startsWith("TAG_") =>
        "tag/" + n.stripPrefix("TAG_") }
      .sorted.toSeq
      .flatMap(n => refGet(n).map(n -> _))
}

/** The conditional-write primitive [[CasVersionPointer]] arbitrates
  * through — ONE versioned value with compare-and-swap semantics, the
  * contract every Iceberg-class catalog offers (HMS lock+check, REST
  * catalog conditional commit, DynamoDB conditional put, S3
  * If-Match/etag put). Implement it against the deployment's catalog;
  * [[InMemoryConditionalStore]] is the in-process reference
  * implementation (tests, single-driver deployments, and the FakeS3
  * harness — it deliberately provides NOTHING beyond the contract). */
trait ConditionalStore {
  /** The stored value, None when never written. */
  def get(): Option[String]
  /** Set `value` iff the stored value currently equals `expected`
    * (None = must be absent). Atomic; exactly one of N racing callers
    * with the same `expected` succeeds. */
  def putIf(expected: Option[String], value: String): Boolean
}
// Durable implementations ship in DurableStores.scala:
// [[FileConditionalStore]] (generation-file CAS on POSIX/HDFS — the
// restart-surviving default, auto-opened for path-shaped pointer
// names) and [[JdbcConditionalStore]] (optimistic-generation row in
// any JDBC database — the catalog-database shape).

/** Per-JVM conditional store — a synchronized cell keyed by name.
  * Reference implementation of the [[ConditionalStore]] contract for
  * tests and single-process deployments; a production multi-writer
  * deployment implements the trait against its catalog. */
class InMemoryConditionalStore private (name: String) extends ConditionalStore {
  override def get(): Option[String] =
    InMemoryConditionalStore.synchronized {
      InMemoryConditionalStore.cells.get(name)
    }
  override def putIf(expected: Option[String], value: String): Boolean =
    InMemoryConditionalStore.synchronized {
      if (InMemoryConditionalStore.cells.get(name) == expected) {
        InMemoryConditionalStore.cells(name) = value; true
      } else false
    }
}

object InMemoryConditionalStore {
  private val cells = scala.collection.mutable.Map.empty[String, String]
  /** The store cell named `name` (same name = same cell, process-wide:
    * two table handles on one root share the arbiter, which is the
    * point). */
  def apply(name: String): InMemoryConditionalStore =
    new InMemoryConditionalStore(name)
}

/** Process-wide registry of NAMED [[ConditionalStore]]s — how the
  * SQL/catalog/format surface reaches CAS-mode tables: a store
  * implementation cannot ride a string option, so a deployment
  * registers its catalog-backed store once at session startup
  * (`GraftStores.register("prod", myStore)`) and tables name it —
  * `CREATE TABLE t USING graft OPTIONS (path '...', pointer 'prod')`
  * or `.option("pointer", "prod")` on any format read/write/stream.
  * Every SQL verb (SELECT, DML, maintenance) then arbitrates through
  * the store exactly as the Scala constructor seam does. An
  * unregistered name refuses loudly at open. */
object GraftStores {
  private val stores =
    scala.collection.concurrent.TrieMap.empty[String, ConditionalStore]
  def register(name: String, store: ConditionalStore): Unit =
    stores(name) = store
  /** A registered name wins; otherwise an UNAMBIGUOUSLY path-shaped
    * name — an absolute path (`/abs/dir`) or a URI with a scheme
    * (`file:/warehouse/_cas/t1`, `hdfs://...`) — opens a
    * [[FileConditionalStore]] on that directory: the zero-deployment-
    * code durable pointer, `OPTIONS (pointer 'file:/...')` survives JVM
    * restart with nothing registered at startup. Anything else (a
    * relative `team/prod`, a bare name) refuses as unregistered rather
    * than auto-opening: a mistyped registered-store name, or a run
    * whose startup registration was skipped, must fail loudly — a
    * silently-created empty local store directory would quietly fork a
    * new table lineage. The opened store is cached under its name; a
    * benign race opening two is harmless (the filesystem, not the
    * handle, is the arbiter). */
  def resolve(name: String): Option[ConditionalStore] =
    stores.get(name).orElse {
      if (name.startsWith("/") || name.contains(":/"))
        Some(stores.getOrElseUpdate(name, FileConditionalStore.open(name)))
      else None
    }
  def unregister(name: String): Unit = { stores.remove(name); () }
}

/** Conditional-write arbitration: the commit point is a CAS on the
  * pointer value; manifests (main AND branch) are attempt-unique files
  * chained by a `parentfile=` line, refs ride the pointer value's
  * tail lines (see the trait scaladoc for the full protocol).
  *
  * Pointer value layout (single string, the store's one cell):
  * {{{
  *   <version>|<manifestFile>
  *   ref=tag/<name>|<pinnedVersion>
  *   ref=branch/<name>|<branchVersion>|<branchManifestFile>
  * }}}
  * A lineage's head is its line of that value: main's is the first, a
  * branch's is its `ref=branch/<name>` line. Every mutation — a commit
  * on any lineage, tag create/drop — is one CAS of the WHOLE value, so
  * ref mutations and commits serialize against each other; a CAS that
  * fails only because ANOTHER line moved retries internally against the
  * fresh value (the caller's intent is still valid), so a tag create
  * racing a commit costs one re-read, never a spurious conflict.
  *
  * Retention: [[SnapshotTable.expire]] keeps CAS-mode retention
  * CONTIGUOUS from the head down (a tag pinning an old version pins
  * everything newer too), so the chain walk always resolves every
  * retained version — a mid-chain gap would strand the versions below
  * it. Chain walks are memoized per lineage head: one O(retained)
  * metadata pass per head move. */
private[write] object CasVersionPointer {
  /** Documented ceiling on named refs (tags + branch heads) per
    * CAS-mode table. Every ref is one line of the single pointer value,
    * re-written by every commit CAS and every unrelated-line retry —
    * the bound keeps that value O(10 KB) worst-case so ref bookkeeping
    * can never dominate commit cost; past it, ref creation refuses
    * loudly with the remedy named (see `requireRefCapacity`). */
  val MaxRefs = 256
}

private[write] class CasVersionPointer(fs: FileSystem,
                                       conf: org.apache.hadoop.conf.Configuration,
                                       manifestDir: Path,
                                       store: ConditionalStore) extends VersionPointer {

  // ---- pointer value codec ----

  /** First line's (version, manifestFile). */
  private def parseHead(raw: String): (Int, String) = {
    val line = raw.takeWhile(_ != '\n')
    val bar = line.indexOf('|')
    require(bar > 0, s"malformed version pointer: '$line'")
    (line.substring(0, bar).toInt, line.substring(bar + 1))
  }

  /** Tail lines' refs, name -> value (insertion-ordered). */
  private def parseRefs(raw: String): Seq[(String, String)] =
    raw.linesIterator.drop(1).collect {
      case l if l.startsWith("ref=") =>
        val spec = l.stripPrefix("ref=")
        val bar = spec.indexOf('|')
        require(bar > 0, s"malformed ref line in pointer: '$l'")
        (spec.substring(0, bar), spec.substring(bar + 1))
    }.toSeq

  private def renderValue(head: (Int, String),
                          refs: Seq[(String, String)]): String =
    (s"${head._1}|${head._2}" +:
      refs.map { case (n, v) => s"ref=$n|$v" }).mkString("\n")

  private def branchRef(name: String) = s"branch/$name"

  /** Lineage `b`'s head in pointer value `raw`, as (version,
    * manifestFile). */
  private def headIn(raw: Option[String], b: Branch): Option[(Int, String)] =
    raw.flatMap { r =>
      b match {
        case Branch.Main => Some(parseHead(r))
        case Branch.Named(name) => parseRefs(r).collectFirst {
          case (n, v) if n == branchRef(name) =>
            val bar = v.indexOf('|')
            require(bar > 0, s"malformed branch ref value: '$v'")
            (v.substring(0, bar).toInt, v.substring(bar + 1))
        }
      }
    }

  /** `raw` with lineage `b`'s head line set to `to`, every other line
    * carried forward. A branch hangs off a committed main, and creating
    * one adds a ref line, so it is checked against [[CasVersionPointer.MaxRefs]]
    * here, inside the CAS loop, where racing creators cannot overshoot. */
  private def withHead(raw: Option[String], b: Branch, to: (Int, String)): String =
    b match {
      case Branch.Main => renderValue(to, raw.map(parseRefs).getOrElse(Seq.empty))
      case Branch.Named(name) =>
        val r = raw.getOrElse(sys.error(
          s"no committed version at $manifestDir to hang a ref on"))
        val refs = parseRefs(r)
        if (!refs.exists(_._1 == branchRef(name))) requireRefCapacity(refs)
        renderValue(parseHead(r), refs.filterNot(_._1 == branchRef(name)) :+
          (branchRef(name) -> s"${to._1}|${to._2}"))
    }

  override def head(b: Branch): Option[Int] = headIn(store.get(), b).map(_._1)

  // ---- chain walks, memoized per lineage head ----

  /** Diagnostics: full chain walks performed (each is O(retained)
    * metadata reads) — pinned by the memoization spec. */
  private[graft] var chainWalks: Int = 0

  /** Per lineage: the head the walk ran from and its version → file
    * map; a moved head misses and re-walks. [[delete]], which removes
    * FILES without moving a head, trims main's map itself. Assumes
    * manifests are immutable outside this protocol — the same
    * assumption every reader of them makes. */
  @volatile private var chains: Map[Branch, ((Int, String), Map[Int, String])] =
    Map.empty

  /** Walk a parentfile chain from (v0, file0) down to its end (or the
    * first missing file — expired history), returning version → file. */
  private def chainFrom(v0: Int, file0: String): Map[Int, String] = {
    chainWalks += 1
    val acc = scala.collection.mutable.Map.empty[Int, String]
    var cur: Option[(Int, String)] = Some((v0, file0))
    while (cur.isDefined) {
      val (v, f) = cur.get
      cur = SnapshotTable.readTextIfExists(fs, new Path(manifestDir, f)).flatMap { text =>
        acc(v) = f
        text.linesIterator.find(_.startsWith("parentfile="))
          .map(l => (v - 1, l.stripPrefix("parentfile=")))
      }
    }
    acc.toMap
  }

  /** Lineage `b`'s version → file map from head `h`, memoized. */
  private def chainAt(b: Branch, h: Option[(Int, String)]): Map[Int, String] =
    h match {
      case None => Map.empty
      case Some(hd) =>
        chains.get(b) match {
          case Some((`hd`, m)) => m
          case _ =>
            val m = chainFrom(hd._1, hd._2)
            chains += (b -> (hd, m))
            m
        }
    }

  private def chain(b: Branch): Map[Int, String] = chainAt(b, headIn(store.get(), b))

  override def manifestPath(b: Branch, v: Int): Path =
    new Path(manifestDir, chain(b).getOrElse(v,
      // FileNotFoundException, matching Fs mode's missing-manifest
      // failure shape — callers with expired-history fallbacks
      // (findLatestOp) catch exactly this type
      throw new java.io.FileNotFoundException(
        s"no retained manifest for ${b.label(v)} under $manifestDir " +
          "(expired, or never committed)")))

  override def versions(b: Branch): Seq[Int] = chain(b).keys.toSeq.sorted

  override def branchList(): Seq[String] =
    refList().collect { case (n, _) if n.startsWith("branch/") =>
      n.stripPrefix("branch/") }.sorted

  // ---- the commit point: one attempt writer, one CAS loop ----

  /** Write version `v` of lineage `b` under a fresh attempt-unique name:
    * the `parentfile=` line first, then the manifest body. No two
    * writers share a name, so a plain create is race-free even on
    * last-writer-wins stores. Returns the file name. */
  private def writeAttempt(b: Branch, v: Int, parentFile: Option[String],
                           body: Array[Byte]): String = {
    val fname = (b match {
      case Branch.Main => f"v$v%05d"
      case Branch.Named(name) => f"bv_${name}_$v%05d"
    }) + "_" + java.util.UUID.randomUUID.toString.take(8) + ".txt"
    val out = fs.create(new Path(manifestDir, fname), false)
    try out.write(parentFile.map(pf => s"parentfile=$pf\n").getOrElse("")
      .getBytes("UTF-8") ++ body)
    finally out.close()
    fname
  }

  /** `putIf` with INDETERMINATE-OUTCOME handling: a real catalog can
    * APPLY the conditional write and then fail reporting it (network
    * drop after commit). Propagating such an exception would make the
    * caller's retry land the same batch TWICE — the
    * commit-state-unknown hazard Iceberg handles by reading back. On
    * any store exception this re-reads: if `attemptFile` is reachable
    * from lineage `b`'s fresh head chain, OUR commit happened (the
    * attempt name is unique to this call) and the put reports success;
    * otherwise the original failure propagates — still ambiguous, but
    * never silently doubled. */
  private def putIfChecked(b: Branch, expected: Option[String], value: String,
                           attemptFile: String): Boolean =
    try store.putIf(expected, value)
    catch { case e: Throwable =>
      val landed =
        try {
          headIn(store.get(), b).exists { case (hv, hf) =>
            hf == attemptFile || chainFrom(hv, hf).values.exists(_ == attemptFile)
          }
        } catch { case _: Throwable => false }
      if (landed) true else throw e
    }

  /** THE CAS loop behind [[publish]] and [[rewriteAll]]: swap lineage
    * `b`'s head line from `from` (as read in `seen`) to `to`, carrying
    * every other line forward and retrying while only other lines moved
    * (a tag create or another lineage's commit leaves the caller's
    * intent valid). Returns false iff `b`'s head moved off `from` — the
    * real race, lost. The caller's `attempts` files are deleted only on
    * a DEFINITE loss: that lost race, or a refusal (ref capacity, no
    * committed main) before any put. An unknown outcome — a store
    * exception the read-back cannot resolve — propagates with them kept,
    * since the head may already name them; [[orphanManifests]] collects
    * them if it does not. */
  private def swapHead(b: Branch, seen: Option[String], from: Option[(Int, String)],
                       to: (Int, String), attempts: Seq[String]): Boolean = {
    def discard(): Unit = attempts.foreach(f => fs.delete(new Path(manifestDir, f), false))
    var cur = seen
    while (true) {
      if (headIn(cur, b) != from) { discard(); return false }
      val next = try withHead(cur, b, to) catch { case e: Throwable => discard(); throw e }
      if (putIfChecked(b, cur, next, to._2)) return true
      cur = store.get()
    }
    false // unreachable
  }

  override def publish(b: Branch, v: Int, content: Array[Byte]): Boolean = {
    val seen = store.get()
    val from = headIn(seen, b)
    // the caller computed `content` against head v-1; if the head
    // already moved, the race is lost without touching the store
    if (from.map(_._1).getOrElse(0) != v - 1) return false
    val fname = writeAttempt(b, v, from.map(_._2), content)
    swapHead(b, seen, from, (v, fname), Seq(fname))
  }

  override def rewriteAll(b: Branch, contents: Map[Int, Array[Byte]]): Unit = {
    val seen = store.get()
    val from = headIn(seen, b).getOrElse(return)
    val old = chainAt(b, Some(from))
    // rebuild the retained chain bottom-up under fresh attempt-unique
    // names: each new manifest's parentfile points at its parent's NEW
    // name (the oldest keeps its original parent link — it points past
    // the retention edge, where the walk stops at the missing file
    // anyway). Nothing is overwritten in place: readers keep resolving
    // the OLD chain until the single CAS below swaps the head; tag
    // values are bare versions and other lineages' lines name their own
    // files, so every other line carries forward untouched.
    val fresh = scala.collection.mutable.Map.empty[Int, String]
    old.keys.toSeq.sorted.foreach { v =>
      val oldText = SnapshotTable.readText(fs, new Path(manifestDir, old(v)))
      val body = contents.getOrElse(v,
        oldText.linesIterator.filterNot(_.startsWith("parentfile="))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
      val parent = fresh.get(v - 1).orElse(oldText.linesIterator.collectFirst {
        case l if l.startsWith("parentfile=") => l.stripPrefix("parentfile=") })
      fresh(v) = writeAttempt(b, v, parent, body)
    }
    if (!swapHead(b, seen, Some(from), (from._1, fresh(from._1)), fresh.values.toSeq))
      throw new SnapshotConflictException(
        s"manifest rewrite of ${b.label(from._1)} at $manifestDir lost a race " +
          "with a concurrent commit — purge requires a quiesced table; retry " +
          "when no writer is in flight")
    old.values.foreach(f => fs.delete(new Path(manifestDir, f), false))
  }

  override def delete(v: Int): Unit = {
    chain(Branch.Main).get(v).foreach(f => fs.delete(new Path(manifestDir, f), false))
    // main's head did not move, and a walk from it now stops at v:
    // drop v and everything below it from the memo instead of
    // re-walking the chain once per expired version
    chains.get(Branch.Main).foreach { case (h, m) =>
      chains += (Branch.Main -> (h, m.filter(_._1 > v))) }
  }

  /** The CAS pointer has no created-but-unflipped window: the CAS IS
    * the commit. A crash before it leaves only an unreferenced manifest
    * file — [[orphanManifests]] surfaces those for the vacuum sweep. */
  override def promote(v: Int): Unit = ()

  override def orphanManifests(): Seq[Path] = {
    if (!fs.exists(manifestDir)) return Seq.empty
    val live = (Branch.Main +: branchList().map(Branch.Named(_)))
      .flatMap(chain(_).values).toSet
    fs.listStatus(manifestDir).map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n.matches("v\\d+_[0-9a-f]{8}\\.txt") ||
          n.matches("bv_.*_\\d{5,}_[0-9a-f]{8}\\.txt")) && !live(n)
      }.toSeq
  }

  override def dropBranch(name: String): Unit = {
    val b = Branch.Named(name)
    val files = chain(b).values.toSeq
    refDrop(branchRef(name))
    files.foreach(f => fs.delete(new Path(manifestDir, f), false))
    chains -= b
  }

  // ---- refs: lines of the pointer value, every mutation one CAS ----

  /** Apply `mutate` to the refs under CAS: retried while OTHER lines
    * move (a concurrent commit relocating the head never invalidates a
    * ref mutation's intent); returns false only when the mutation
    * itself refuses against the fresh refs. `landed` is the
    * indeterminate-outcome check (same hazard as [[putIfChecked]]): on
    * a store exception the fresh refs are read back, and if the
    * mutation's effect is already visible the op reports success
    * instead of letting a retry double it. */
  private def casRefs(landed: Seq[(String, String)] => Boolean)(
      mutate: Seq[(String, String)] => Option[Seq[(String, String)]]): Boolean = {
    while (true) {
      val raw = store.get().getOrElse(sys.error(
        s"no committed version at $manifestDir to hang a ref on"))
      val refs = parseRefs(raw)
      mutate(refs) match {
        case None => return false
        case Some(next) =>
          val won =
            try store.putIf(Some(raw), renderValue(parseHead(raw), next))
            catch { case e: Throwable =>
              val visible =
                try store.get().map(parseRefs).exists(landed)
                catch { case _: Throwable => false }
              if (visible) true else throw e
            }
          if (won) return true
        // else: lost to a concurrent commit or another ref op — re-read
      }
    }
    false // unreachable
  }

  /** Loud refusal keeping the pointer value BOUNDED: every ref line
    * rides the single CAS cell, so each commit (and each unrelated-line
    * retry) re-writes the whole list through the store — unbounded refs
    * would make ref bookkeeping the commit cost at organization scale.
    * Checked inside the CAS loop, so racing creators cannot overshoot. */
  private def requireRefCapacity(refs: Seq[(String, String)]): Unit =
    require(refs.size < CasVersionPointer.MaxRefs,
      s"table at $manifestDir already carries ${refs.size} refs " +
        s"(tags + branches) — the CAS pointer holds at most " +
        s"${CasVersionPointer.MaxRefs}, because every ref rides the one " +
        "arbitration cell that every commit re-writes. Drop unused tags " +
        "(dropTag) or branches (dropBranch) before creating more.")

  override def refCreate(name: String, value: String): Boolean =
    casRefs(_.exists(r => r._1 == name && r._2 == value)) { refs =>
      if (refs.exists(_._1 == name)) None
      else { requireRefCapacity(refs); Some(refs :+ (name -> value)) }
    }

  override def refGet(name: String): Option[String] =
    store.get().flatMap(raw => parseRefs(raw).collectFirst {
      case (`name`, v) => v })

  override def refDrop(name: String): Unit = {
    if (store.get().isEmpty) return
    casRefs(!_.exists(_._1 == name)) { refs =>
      if (!refs.exists(_._1 == name)) None // absent: done (idempotent)
      else Some(refs.filterNot(_._1 == name))
    }
    ()
  }

  override def refList(): Seq[(String, String)] =
    store.get().map(parseRefs).getOrElse(Seq.empty)
}
