package graft.io

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** The build-once, read-forever parquet store behind the stored
  * dedup, TF, PQ/IVF and CDC tables — the only code that knows the
  * store format: where a store lives, when it goes stale, how it is
  * published, and which sidecar files it carries.
  *
  * A store path is
  * `<root>/t<sanitized fixture path>-<kind>-<family><version>-<stamp>`:
  * the content stamp of the family's fixture table keys DATA freshness
  * (regenerating the fixture changes the stamp, so the path, so the
  * store rebuilds), the family version keys CODE freshness (a builder
  * change bumps it, so the old store is never read again). In a
  * Delta/Iceberg deployment the table's snapshot id plays the stamp's
  * role. Each published store is one directory holding `_SUCCESS`. */
object Store {

  /** A store family: the root its stores live under (deployment path,
    * overridable by `rootEnv`), the fixture table whose content stamp
    * keys its paths, and its builder version. */
  final case class Family(name: String, version: Int, rootEnv: String,
                          defaultRoot: String, table: String) {
    def root: String = sys.env.getOrElse(rootEnv, defaultRoot)
  }

  // THE VERSION TABLE. Bump a family's version whenever one of its
  // builders changes: persisted columns, thresholds, geometry or the
  // layout inside a dir. A change to the shared machinery in this
  // module (publish, sidecars, path grammar) bumps EVERY entry.
  // Versions cannot see data; the content stamp can't see code.
  //
  // sig 3: day-chain restructure (d1labels reads the appended d1pairs
  // store; d0pairs/d1ranks added) — the v2 d1labels store's _UPSTREAM
  // receipt named d1sigs and the coherence guard refused it.
  val Sig = Family("sig", 3, "SPARK_GRAFT_SIG_STORE", "/tmp/graft-sig-store", "documents")
  // tf 2: three TF generations (tf1 appends doc_id%10==8, tf2 ==9); a
  // stale two-way tf1 holds the old ≥8 batch.
  val Tf = Family("tf", 2, "SPARK_GRAFT_SIG_STORE", "/tmp/graft-sig-store", "documents")
  // pq 2: map-side coding + stored IVF tables. 3: corpus-derived
  // geometry and SAMPLED training in every stored builder. 4: ivfcodes/
  // rescodes hive-partitioned by cell. 5: partitioned stores cluster
  // on cell before writing. 6: _CELLS sidecar and long-typed
  // partition read-back.
  val Pq = Family("pq", 8, "SPARK_GRAFT_PQ_STORE", "/tmp/graft-pq-store", "embeddings")
  val Cdc = Family("cdc", 1, "SPARK_GRAFT_CDC_STORE", "/tmp/graft-cdc-store", "events")
  val Families: Seq[Family] = Seq(Sig, Tf, Pq, Cdc)

  /** Store directory for artifact `kind` of fixture `d` in `family`.
    * The "t" prefix: a sanitized absolute path starts with "_", and
    * Hadoop's listing filter hides underscore-prefixed paths — any
    * consumer that globs the root would silently skip the table. */
  def dir(family: Family, d: String, kind: String): String =
    s"${family.root}/t${d.replaceAll("[^A-Za-z0-9._-]", "_")}-$kind-" +
      s"${family.name}${family.version}-" + fsStamp(s"$d/${family.table}.parquet")

  /** Filesystem identity stamp of a fixture table — file names, sizes
    * and mtimes folded through md5, from metadata alone (no data read,
    * no Spark job). */
  private[graft] def fsStamp(path: String): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val sig = walk(new File(path))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** Coherence marker of a DERIVED store: the basenames of the stores
    * its build read, one per line. Re-verified on every read, so a root
    * whose entries went incoherent (half-cleared, re-stamped, copied
    * across fixtures) refuses loudly instead of pairing fresh tables
    * with stale ones. */
  private[graft] val UpstreamMarker = "_UPSTREAM"

  /** Sidecar naming the partition universe of a hive-partitioned store:
    * sorted longs, one per line, so a planner learns the universe from
    * one small file instead of a directory listing. */
  private[graft] val CellsMarker = "_CELLS"

  /** Superseded dirs younger than this are never swept: a concurrent
    * JVM on older code may be reading a store it just published, and a
    * store old code actively uses is recent by construction. */
  private[graft] val SweepGraceMs = 6L * 3600 * 1000

  private val DefaultRoots = Families.map(_.defaultRoot).toSet
  private val FamilyToken = """-([a-z]+)(\d+)-[0-9a-f]{12}$""".r.unanchored

  /** Deletes the `t…` store dirs under `root` whose family token is not
    * current (or does not parse) and that are older than
    * [[SweepGraceMs]] at `now`. Build dirs (`.tmp-`) and lock files are
    * never touched. Best-effort: a failure is ignored, never fatal. */
  private[graft] def sweep(root: File, now: Long): Unit = {
    def current(name: String) = name match {
      case FamilyToken(f, v) => Families.exists(x => x.name == f && x.version == v.toInt)
      case _ => false
    }
    try Option(root.listFiles()).toSeq.flatten.filter { f =>
        val n = f.getName
        f.isDirectory && n.startsWith("t") && !n.contains(".tmp-") &&
          !current(n) && f.lastModified() < now - SweepGraceMs
      }.foreach(rm)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Sweeps each root once per JVM, and only a built-in default root:
    * a root set by the deployment may hold unrelated content. */
  private val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def sweepOnce(root: String): Unit =
    if (DefaultRoots.contains(root) && swept.add(root))
      sweep(new File(root), System.currentTimeMillis())

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
    f.delete(); ()
  }

  private def ready(dir: File): Boolean = new File(dir, "_SUCCESS").exists()

  /** Build-once-read-forever materialization: if `dir` is not
    * published, run `build` into a session-unique temp sibling and
    * atomically [[publish]] it; then read the table back. Nothing is
    * ever written AT `dir`, so a reader never sees a half-written
    * store. `upstream` lists the store dirs the build READS, recorded
    * in [[UpstreamMarker]] and re-verified on every read.
    * `partitionBy` writes the store hive-partitioned on that column —
    * a reader whose join/filter keys on it scans only the matching
    * subdirectories. Partition columns are LONG (required at write,
    * cast back at read: Spark's partition-type inference would narrow
    * a long-valued dir name to int) and move to the END of the
    * read-back schema, so consumers select by name. */
  def table(s: SparkSession, dir: String, upstream: Seq[String] = Nil,
            partitionBy: Seq[String] = Nil)(build: => DataFrame): DataFrame =
    materialize(s, dir, upstream, partitionBy)(_ => ())(build)

  /** Day-chain store: publishes `dir` = `baseDir` ∪ `batch` without
    * recomputing the base. Every data file of `baseDir` is HARD-LINKED
    * into the new dir (O(#files) metadata, zero data movement — the
    * add-files append a Delta/Iceberg commit performs), then `batch`
    * alone is written beside the linked files. */
  def append(s: SparkSession, dir: String, baseDir: String,
             partitionBy: Seq[String] = Nil)(batch: => DataFrame): DataFrame =
    materialize(s, dir, Seq(baseDir), partitionBy) { tmp =>
      val base = new File(baseDir)
      require(ready(base), s"append base $baseDir is not published")
      tmp.mkdirs()
      def linkInto(srcDir: File, dstDir: File): Unit =
        Option(srcDir.listFiles()).toSeq.flatten
          .filter(f => f.isFile && f.getName.startsWith("part-"))
          .foreach(f => java.nio.file.Files.createLink(
            dstDir.toPath.resolve(f.getName), f.toPath))
      if (partitionBy.isEmpty) linkInto(base, tmp)
      else
        // hive-partitioned base: link each partition dir's files under
        // the same dir name; the batch adds files beside them (new
        // cells create new dirs) and _CELLS is rebuilt over the union
        Option(base.listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith(partitionBy.head + "="))
          .foreach { pd =>
            val nd = new File(tmp, pd.getName)
            nd.mkdirs()
            linkInto(pd, nd)
          }
    }(batch)

  /** The body [[table]] and [[append]] share: `seed` prepares the temp
    * dir (nothing, or the base's linked files), `frame` is written into
    * it in append mode — the temp dir is fresh, so append only ever
    * adds to what `seed` put there. */
  private def materialize(s: SparkSession, dir: String, upstream: Seq[String],
                          partitionBy: Seq[String])(seed: File => Unit)
                         (frame: => DataFrame): DataFrame = {
    val target = new File(dir)
    sweepOnce(target.getParent)
    if (!ready(target)) {
      // _CELLS records only the first partition column's level-1 dirs:
      // a multi-column store would publish a sidecar that consumers
      // misread as the full universe and wrongly drop their prune
      require(partitionBy.size <= 1,
        s"a store supports at most one partition column, got " +
          s"$partitionBy — the _CELLS sidecar contract is single-level")
      val tmp = new File(target.getParentFile,
        s"${target.getName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      seed(tmp)
      // cluster on the partition column first: a partitionBy write from
      // an N-task frame otherwise emits up to N files PER value
      // (measured 2× slower reads at fixture scale)
      val df = if (partitionBy.nonEmpty) frame.repartition(partitionBy.map(col): _*) else frame
      partitionBy.foreach { c =>
        require(df.schema(c).dataType == LongType,
          s"store partition column $c must be LONG (engine convention " +
            "— read-back casts partition columns to long)")
      }
      val w = df.write.mode("append")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmp.getPath)
      if (upstream.nonEmpty)
        java.nio.file.Files.write(tmp.toPath.resolve(UpstreamMarker),
          upstream.map(p => new File(p).getName).mkString("", "\n", "\n").getBytes("UTF-8"))
      if (partitionBy.nonEmpty) writeCells(tmp, partitionBy.head)
      publish(tmp, target)
    }
    checkUpstream(target, upstream)
    readStored(s, dir, partitionBy)
  }

  /** Atomically publish the fully built dir `tmp` at `target` under a
    * cross-process file lock. Without the lock a loser could observe
    * `!ready`, then delete a store the winner had JUST renamed into
    * place. Under it the decision is serialized: a complete
    * (`_SUCCESS`-bearing) target is never deleted, only a crashed
    * earlier build (target present, no `_SUCCESS`) is cleared before
    * the rename. Same-parent rename ⇒ same filesystem ⇒ atomic;
    * cross-JVM exclusion via [[java.nio.channels.FileLock]] (released
    * by the OS even on crash), same-JVM exclusion via the interned
    * path monitor (overlapping FileLocks in one JVM throw instead of
    * blocking). */
  private def publish(tmp: File, target: File): Unit =
    target.getPath.intern.synchronized {
      val lockFile = new File(target.getParentFile, target.getName + ".lock")
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (ready(target)) rm(tmp) // lost to a complete build — byte-equivalent
          else {
            if (target.exists()) rm(target) // crashed build, no _SUCCESS
            require(tmp.renameTo(target), s"stored-table publish failed for ${target.getPath}")
          }
        } finally lock.release()
      } finally ch.close()
      require(ready(target), s"stored-table publish failed for ${target.getPath}")
    }

  /** A derived store must carry the receipt naming exactly `expected`.
    * Every publish with a non-empty upstream writes it, so a MISSING
    * receipt means the root was tampered with or half-cleared. */
  private def checkUpstream(target: File, expected: Seq[String]): Unit =
    if (expected.nonEmpty) {
      val m = new File(target, UpstreamMarker)
      val recorded =
        if (!m.exists()) Nil
        else new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8").trim
          .split("\n").toSeq.filter(_.nonEmpty)
      val want = expected.map(p => new File(p).getName)
      require(recorded == want,
        s"store ${target.getName} is INCOHERENT with its upstream: built " +
          s"from ${if (m.exists()) recorded.mkString(",") else s"nothing (no $UpstreamMarker)"}" +
          s" but the current upstream is " +
          s"${want.mkString(",")} — wipe ${target.getParent} and rebuild")
    }

  /** Writes [[CellsMarker]] from the partition dirs a write just
    * created. A NULL partition value writes
    * `col=__HIVE_DEFAULT_PARTITION__`; name that cause instead of
    * failing with an opaque NumberFormatException. */
  private def writeCells(tmp: File, partCol: String): Unit = {
    val dirs = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(partCol + "="))
      .map(_.getName.split("=", 2)(1))
    val bad = dirs.filterNot(_.matches("-?[0-9]+"))
    require(bad.isEmpty,
      s"store ${tmp.getName}: non-numeric partition dirs $bad — " +
        s"null or non-long values in partition column $partCol " +
        "(engine convention: non-null LONG)")
    java.nio.file.Files.write(tmp.toPath.resolve(CellsMarker),
      dirs.map(_.toLong).sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** The partition universe recorded at publish — None for a store
    * that is not partitioned (callers then fall back to not pruning). */
  private[graft] def partValues(dir: String): Option[Seq[Long]] = {
    val f = new File(dir, CellsMarker)
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty).map(_.toLong))
  }

  /** Read-back handles memoized per (session, store dir): a published
    * store is IMMUTABLE (a rebuild is always a new dir), so the
    * DataFrame handle — whose file index holds the listing and
    * partition discovery — is safe to reuse for the session's
    * lifetime, the snapshot-handle cache every table-format client
    * keeps. Without it each query re-paid the partition walk and footer
    * read at plan time (0.32 s per read on a 45-partition store vs
    * 0.19 s for the scan itself). Keyed by the SESSION OBJECT (identity
    * hashes are reused after GC). Not weak-keyed: a cached DataFrame
    * strongly references its session. Instead, entries of a stopped
    * context are purged on every lookup, and an LRU cap bounds live
    * sessions (an evicted session re-pays one listing). */
  private val ReadMemoSessionCap = 8
  private val readMemo =
    new java.util.LinkedHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, DataFrame]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession,
            java.util.concurrent.ConcurrentHashMap[String, DataFrame]]) =
        size > ReadMemoSessionCap
    }

  /** Live sessions holding memoized handles — test hook for the cap. */
  private[graft] def readMemoSessionCount: Int = readMemo.synchronized(readMemo.size)

  private def readStored(s: SparkSession, dir: String, partitionBy: Seq[String]): DataFrame = {
    val perSession = readMemo.synchronized {
      readMemo.entrySet().removeIf(ent => ent.getKey.sparkContext.isStopped)
      var m = readMemo.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        readMemo.put(s, m)
      }
      m
    }
    perSession.computeIfAbsent(dir, _ => {
      val raw = s.read.parquet(dir)
      partitionBy.foldLeft(raw)((df, c) => df.withColumn(c, col(c).cast("long")))
    })
  }
}
