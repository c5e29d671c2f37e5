package graft.reddit

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** S6/S7/U3/U4: the persistent `reddit` table as a directory-versioned
  * parquet table with an atomic-swap writer.
  *
  * Layout: `<root>/v_<n>/` holds one immutable table version; `<root>/CURRENT`
  * names the live version. A write lands fully in a new `v_<n+1>` directory
  * before CURRENT flips (atomic file move), so readers never observe a
  * partial table and the upsert never overwrites files it is still
  * reading — the U4 transaction-boundary semantics the reference gets from
  * psycopg2 commit (s3_to_redshift.py:337-376), done the way an
  * object-store table format does it (versioned dirs + a pointer flip).
  *
  * Data is partitioned by `extract_date` (one daily micro-batch = one
  * partition) and each version carries a tiny manifest of per-partition key
  * bounds. An upsert rewrites ONLY the partitions whose key range can
  * contain a staged id (plus the staged dates themselves) and hard-links
  * every other partition's files into the new version — write amplification
  * is O(affected partitions), not O(table), so a daily micro-batch against a
  * 100 TB table touches one or two date directories instead of copying the
  * world. Hard links (not symlinks) keep vacuumed versions from pulling data
  * out from under newer ones.
  */
object PostsTable {

  private val ManifestName = "_graft_manifest.tsv"
  // serializes heal-takeovers within this JVM (java.nio FileLock is
  // per-process: overlapping same-JVM locks throw instead of blocking)
  private val healMutex = new Object
  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  private def currentFile(root: String): Path = Paths.get(root, "CURRENT")

  private def versionDir(root: String, v: Long): Path = Paths.get(root, s"v_$v")

  def currentVersion(root: String): Option[Long] = {
    val f = currentFile(root)
    if (Files.exists(f)) Some(Files.readString(f).trim.toLong) else None
  }

  def exists(root: String): Boolean = currentVersion(root).isDefined

  /** Read the live version. Fails if the table was never initialized. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"PostsTable at $root not initialized"))
    spark.read.parquet(versionDir(root, v).toString)
  }

  // --- per-partition key-bounds manifest ------------------------------------

  private def partDirName(value: Option[String]): String =
    s"extract_date=${value.getOrElse(NullPartition)}"

  /** partition-dir-name -> (minKey, maxKey) as strings (ordering-consistent
    * for any key type as long as build and probe cast the same way).
    * Empty bound strings mark a partition with null keys → always affected.
    */
  private def readManifest(dir: Path): Option[Map[String, (String, String)]] = {
    val p = dir.resolve(ManifestName)
    if (!Files.exists(p)) None
    else Some(Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
      val parts = line.split("\t", -1)
      parts(0) -> (parts(1), parts(2))
    }.toMap)
  }

  private def writeManifest(dir: Path, entries: Map[String, (String, String)]): Unit = {
    val body = entries.toSeq.sortBy(_._1)
      .map { case (p, (lo, hi)) => s"$p\t$lo\t$hi" }.mkString("\n")
    Files.writeString(dir.resolve(ManifestName), body)
  }

  /** Per-partition key bounds of a relation that carries `extract_date`.
    * One column-pruned aggregation; the result is one row per partition.
    */
  private def keyBounds(withDate: DataFrame, key: String): Map[String, (String, String)] =
    withDate
      .groupBy(col("extract_date").cast("string").as("d"))
      .agg(min(col(key).cast("string")).as("lo"), max(col(key).cast("string")).as("hi"))
      .collect()
      .map { r =>
        partDirName(Option(r.getString(0))) ->
          (Option(r.getString(1)).getOrElse(""), Option(r.getString(2)).getOrElse(""))
      }
      .toMap

  private def withExtractDate(df: DataFrame): DataFrame =
    df.withColumn("extract_date", to_date(col("extraction_timestamp")))

  /** Key bounds of a version that was JUST WRITTEN, computed by reading the
    * tmp directory back (column-pruned scan of key + partition column) —
    * strictly cheaper than re-running the merge DAG that produced it: the
    * old `keyBounds(merged)` recomputed the pruned-read + anti-join + CSV
    * chain a second time per upsert just to derive the manifest.
    */
  private def writtenKeyBounds(spark: SparkSession, tmp: Path,
                               key: String): Map[String, (String, String)] = {
    // an empty staging merge writes no data files — no partitions, no bounds
    val stream = Files.walk(tmp)
    val hasData =
      try stream.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
      finally stream.close()
    if (!hasData) Map.empty
    else keyBounds(
      spark.read.parquet(tmp.toString).select(col(key), col("extract_date")),
      key)
  }

  // --- version writers ------------------------------------------------------

  private def writeVersion(df: DataFrame, root: String, v: Long, key: String,
                           sidecar: Map[String, String]): Unit = {
    val tmp = Paths.get(root, s"_tmp_v_$v")
    deleteRecursively(tmp)
    // date-partitioned when the batch carries the extraction clock (one
    // daily micro-batch = one partition → partition pruning on date ranges)
    if (df.columns.contains("extraction_timestamp")) {
      val dated = withExtractDate(df)
      dated.write.partitionBy("extract_date").mode("overwrite").parquet(tmp.toString)
      writeManifest(tmp, writtenKeyBounds(df.sparkSession, tmp, key))
    } else df.write.mode("overwrite").parquet(tmp.toString)
    writeSidecar(tmp, sidecar)
    moveIntoVersion(tmp, root, v)
  }

  /** CAS-style writer claim on version `v`: an atomic create-if-absent
    * marker file (`_claim_v_<v>`) taken BEFORE any data is written, so
    * two drivers racing the same version flip are detected at the start,
    * not silently last-flip-wins at the end. Exactly one racer's
    * CREATE_NEW succeeds; the loser fails LOUDLY here with the table
    * untouched and readable. A claim whose recorded owner process is
    * dead is the residue of a crashed writer — it is healed so a crash
    * can never wedge the table. The takeover runs inside a CRASH-SAFE
    * critical section: an OS file lock on `_heal_lock` (the kernel
    * releases it if the healer dies, so the lock itself can never go
    * stale) plus a JVM-global mutex (FileLock is per-process). Inside,
    * the claim is re-read and deleted only while still provably stale —
    * a bare check-then-delete would let a slow healer delete a fast
    * healer's fresh LIVE claim and silently re-admit two writers
    * (caught by the N-healer race spec in PipelineSpec).
    * PID liveness is the right lease for this local-FS table format; an
    * object-store port would swap in a timestamp lease, same protocol.
    * The claim is released after the CURRENT flip (or on failure), so a
    * writer that claims after a completed commit still fails loudly on
    * [[moveIntoVersion]]'s monotonicity check and releases cleanly.
    */
  private[reddit] def claimVersion(root: String, v: Long): Path = {
    val claim = Paths.get(root, s"_claim_v_$v")
    val body = s"${ProcessHandle.current().pid()}@${System.currentTimeMillis()}"
    // Atomic create-with-content: CREATE_NEW + write is TWO events — a
    // racer can observe the claim created but still EMPTY, classify it
    // unreadable-therefore-stale, and delete a live claim (caught by the
    // N-healer race spec under full-suite load). Writing a private temp
    // file and hard-LINKING it into place makes creation-with-content one
    // atomic filesystem event (link fails with EEXIST if the claim exists).
    def tryCreate(): Boolean = {
      val tmp = Paths.get(root,
        s"_claim_tmp_${ProcessHandle.current().pid()}_" +
          s"${Thread.currentThread().getId}_${System.nanoTime()}")
      Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try { Files.createLink(claim, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally { Files.deleteIfExists(tmp); (): Unit }
    }
    if (!tryCreate()) {
      val ownerAlive =
        try {
          val pid = Files.readString(claim).takeWhile(_ != '@').toLong
          ProcessHandle.of(pid).isPresent
        } catch { case _: Exception => false } // unreadable claim = stale
      if (ownerAlive)
        throw new IllegalStateException(
          s"PostsTable: version v_$v is claimed by a live writer " +
            s"(${scala.util.Try(Files.readString(claim)).getOrElse("?")}) — " +
            "two drivers are racing this table; this writer loses loudly " +
            "rather than silently overwriting the other's commit")
      // Takeover under the heal critical section: serialize all healers
      // (threads via the JVM mutex, processes via the OS file lock),
      // RE-READ the claim inside the section, and only delete it if it is
      // STILL stale — the winner's freshly created live claim is then
      // unreachable by any loser. The final admission stays CREATE_NEW,
      // so even a non-healing racer slipping between delete and create
      // leaves exactly one claim holder.
      healMutex.synchronized {
        val ch = java.nio.channels.FileChannel.open(
          Paths.get(root, "_heal_lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val fl = ch.lock()
          try {
            val stillStale =
              try {
                val pid = Files.readString(claim).takeWhile(_ != '@').toLong
                !ProcessHandle.of(pid).isPresent
              } catch { case _: Exception => true } // missing/unreadable = healed or stale
            if (stillStale) Files.deleteIfExists(claim)
            if (!stillStale || !tryCreate())
              throw new IllegalStateException(
                s"PostsTable: lost the takeover race for stale claim on v_$v — " +
                  "another writer healed it first; retry the upsert")
          } finally { fl.release(); (): Unit }
        } finally ch.close()
      }
    }
    claim
  }

  private def releaseClaim(claim: Path): Unit = {
    try Files.deleteIfExists(claim)
    catch { case _: Exception => () } // best-effort; stale-healed next time
    (): Unit
  }

  /** Land a fully-written tmp dir as `v_<v>`. A directory already at the
    * target is the orphan of a commit that crashed between this move and
    * the CURRENT flip (CURRENT never names it, so no reader can hold it,
    * and [[claimVersion]] has already established the orphan's writer is
    * dead) — clobber it, otherwise the rename throws and every replay of
    * the interrupted epoch wedges on the same corpse forever.
    *
    * WRITER CONTRACT: one logical writer per root at a time (what
    * foreachBatch/AvailableNow guarantees — epochs are serialized, and a
    * crash-replay writer IS the same logical writer resuming). Unlike
    * rounds ≤14, this is now ENFORCED, not conventional: every version
    * write holds a [[claimVersion]] marker, so a second driver racing
    * the same version fails loudly at claim time instead of silently
    * losing data to the last CURRENT flip.
    */
  private def moveIntoVersion(tmp: Path, root: String, v: Long): Unit = {
    val target = versionDir(root, v)
    require(!currentVersion(root).exists(_ >= v),
      s"PostsTable: version v_$v already committed (CURRENT moved underneath the writer)")
    deleteRecursively(target)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Transactional sidecar files: land inside the version directory BEFORE
    * the atomic move, so sidecar and data commit as one event — a reader
    * can never observe the new version without its sidecars (the
    * exactly-once ledger in [[graft.streaming.EpochLedger]] rides on
    * this). Names must start with `_` so Spark's parquet reader ignores
    * them and the hard-link merge never carries stale copies forward.
    */
  private def writeSidecar(dir: Path, sidecar: Map[String, String]): Unit =
    sidecar.foreach { case (name, body) =>
      require(name.startsWith("_"),
        s"sidecar file name '$name' must start with '_' (Spark-invisible)")
      Files.writeString(dir.resolve(name), body)
    }

  /** Read a sidecar file from the live version, if present. */
  def readSidecar(root: String, name: String): Option[String] =
    currentVersion(root).flatMap { v =>
      val p = versionDir(root, v).resolve(name)
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }

  /** Live-version sidecars (`_graft_*` minus the manifest, which each
    * writer rebuilds). Carried forward into every new version so that a
    * PLAIN upsert between ledgered ones cannot silently erase the epoch
    * ledger — losing it would quietly demote the exactly-once sink to
    * at-least-once.
    */
  private def currentSidecars(root: String): Map[String, String] =
    currentVersion(root) match {
      case None => Map.empty
      case Some(v) =>
        val stream = Files.list(versionDir(root, v))
        try stream.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            Files.isRegularFile(p) && n.startsWith("_graft_") && n != ManifestName
          }
          .map(p => p.getFileName.toString -> Files.readString(p))
          .toMap
        finally stream.close() // Files.list leaks the dir fd until GC otherwise
    }

  /** Flip CURRENT atomically (write-new + atomic move over the pointer). */
  private def commit(root: String, v: Long): Unit = {
    val next = Paths.get(root, s"_CURRENT_$v")
    Files.writeString(next, v.toString)
    Files.move(next, currentFile(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** S6: create/replace the table from a first batch. */
  def create(df: DataFrame, root: String, key: String = "id",
             sidecar: Map[String, String] = Map.empty): Unit = {
    Files.createDirectories(Paths.get(root))
    val v = currentVersion(root).getOrElse(-1L) + 1
    val claim = claimVersion(root, v)
    try {
      writeVersion(df, root, v, key, sidecar)
      commit(root, v)
    } finally releaseClaim(claim)
  }

  /** U3+U4: delete-matching ∪ insert as one atomic version bump
    * (s3_to_redshift.py:226-232, intent :9-15). Partition-level merge:
    * only date partitions whose manifest key range intersects the staged
    * ids (plus the staged dates) are rewritten; all others hard-link into
    * the new version. Idempotent — re-upserting the same batch yields an
    * identical table.
    */
  def upsert(spark: SparkSession, root: String, staging: DataFrame, key: String = "id",
             maxStagedKeys: Int = 1000000,
             sidecar: Map[String, String] = Map.empty): Unit = {
    if (!exists(root)) { create(staging, root, key, sidecar); return }
    val curV = currentVersion(root).get
    val curDir = versionDir(root, curV)
    val main = read(spark, root)
    val v = curV + 1
    // carried-forward sidecars under the caller's: an upsert that doesn't
    // know about the epoch ledger must not erase it
    val allSidecar = currentSidecars(root) ++ sidecar
    val claim = claimVersion(root, v)
    try {
      if (main.columns.contains("extract_date") && staging.columns.contains("extraction_timestamp"))
        partitionMerge(spark, root, curDir, main, staging, key, v, maxStagedKeys, allSidecar)
      else {
        // legacy/unpartitioned layout: full rewrite (broadcast anti-join;
        // the main side still never shuffles)
        writeVersion(Relational.upsert(main.drop("extract_date"), staging, key), root, v, key, allSidecar)
      }
      commit(root, v)
    } finally releaseClaim(claim)
    vacuum(root, keep = 2)
  }

  private def partitionMerge(spark: SparkSession, root: String, curDir: Path,
                             main: DataFrame, staging: DataFrame,
                             key: String, v: Long, maxStagedKeys: Int,
                             sidecar: Map[String, String]): Unit = {
    // the daily micro-batch is bounded → its key set and date set collect
    // driver-side (same budget class as a broadcast join's build side).
    // `maxStagedKeys` makes the contract enforceable: the limit bounds the
    // collect itself, so a corpus-sized staging relation fails loudly here
    // instead of OOMing the driver
    // ONE collect for both prune sets: (key, date) pairs — a daily batch
    // stamps one extraction date, so pairs ≈ keys and the pair count is
    // the enforceable bound on the collect (a second distinct-collect job
    // per upsert was pure scheduler overhead on a bounded batch)
    val pairRows = withExtractDate(staging)
      .select(col(key).cast("string"), col("extract_date").cast("string"))
      .distinct()
      // saturating +1: Int.MaxValue means "unbounded" rather than a
      // wrapped negative limit
      .limit(if (maxStagedKeys == Int.MaxValue) Int.MaxValue else maxStagedKeys + 1)
      .collect()
    require(pairRows.length <= maxStagedKeys,
      s"upsert: staging batch carries more than maxStagedKeys=$maxStagedKeys distinct " +
        "(key, date) pairs — the set collects driver-side for partition pruning, so an " +
        "unbounded batch would exhaust driver memory. Split the batch or raise the budget.")
    val stagedKeys = pairRows.map(_.getString(0)).filter(_ != null).distinct
    val stagedDates = pairRows
      .map(r => partDirName(Option(r.getString(1)))).toSet

    // self-heal versions that predate manifests with one key-column scan
    val manifest = readManifest(curDir).getOrElse(keyBounds(main, key))

    val existing = listPartitionDirs(curDir)
    val affected = existing.filter { p =>
      stagedDates.contains(p) || manifest.get(p).forall { case (lo, hi) =>
        lo.isEmpty || hi.isEmpty || stagedKeys.exists(k => lo <= k && k <= hi)
      }
    }
    val unaffected = existing -- affected

    // rewrite = (partition-pruned read of affected dates) anti-join staged
    // keys, plus the staged batch itself
    val (nullPart, dateVals) = affected.map(_.stripPrefix("extract_date="))
      .partition(_ == NullPartition)
    val prune = {
      val inDates = col("extract_date").cast("string").isin(dateVals.toSeq: _*)
      if (nullPart.nonEmpty) inDates || col("extract_date").isNull else inDates
    }
    val candidates = main.filter(prune).drop("extract_date")
    val merged = withExtractDate(Relational.upsert(candidates, staging, key))

    val tmp = Paths.get(root, s"_tmp_v_$v")
    deleteRecursively(tmp)
    merged.write.partitionBy("extract_date").mode("overwrite").parquet(tmp.toString)
    // bounds of the REWRITTEN partitions, read back from tmp now — before
    // the hard links land, so unaffected partitions are never rescanned
    // (their bounds carry forward from the old manifest)
    val mergedBounds = writtenKeyBounds(spark, tmp, key)
    // untouched partitions enter the new version as hard links — no data
    // copy, and vacuuming the old version cannot strand them
    unaffected.foreach { p =>
      val src = curDir.resolve(p)
      val dst = tmp.resolve(p)
      Files.createDirectories(dst)
      val stream = Files.list(src)
      try stream.iterator().asScala
        .filter(f => !f.getFileName.toString.startsWith("_"))
        .foreach(f => Files.createLink(dst.resolve(f.getFileName), f))
      finally stream.close()
    }
    writeManifest(tmp,
      manifest.view.filterKeys(unaffected).toMap ++ mergedBounds)
    writeSidecar(tmp, sidecar)
    moveIntoVersion(tmp, root, v)
  }

  private def listPartitionDirs(dir: Path): Set[String] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("extract_date="))
      .map(_.getFileName.toString)
      .toSet
    finally stream.close()
  }

  /** Time-travel read: any still-retained version by number. The
    * versioned-directory layout IS the time-travel index — a version is
    * immutable once committed, so this read needs no snapshot isolation
    * machinery; [[vacuum]]'s `keep` window bounds how far back is
    * readable (the Delta/Iceberg retention trade, stated plainly).
    */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val dir = versionDir(root, v)
    require(Files.isDirectory(dir),
      s"PostsTable: version v_$v not retained at $root (vacuumed or never written)")
    spark.read.parquet(dir.toString).drop("extract_date")
  }

  /** Retained version numbers, ascending. */
  def versions(root: String): Seq[Long] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Seq.empty
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      // length > 2: a stray bare "v_" dir would make "".toLong throw;
      // <= 19 digits keeps the parse inside Long
      .filter(n => n.startsWith("v_") && n.length > 2 && n.length <= 21
        && n.drop(2).forall(_.isDigit))
      .map(_.drop(2).toLong).toSeq.sorted
    finally stream.close()
  }

  /** Drop all but the newest `keep` versions (old readers get a grace
    * window; storage stays bounded).
    */
  def vacuum(root: String, keep: Int): Unit = {
    val cur = currentVersion(root).getOrElse(return)
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return
    val stream = Files.list(dir)
    try stream.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("v_") && n.drop(2).forall(_.isDigit)
          && n.drop(2).toLong <= cur - keep)
        deleteRecursively(p)
    } finally stream.close()
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }
}
