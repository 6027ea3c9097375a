package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Registry of PERSISTED index artifacts — the shared machinery behind the
  * train-once/serve-many contract ([[Similarity]]'s IVF index since r7,
  * [[Dedup]]'s MinHash band index since r11): an index builds once per
  * (data dir, source-table fingerprint, variant) and every subsequent
  * consumer reads the parquet artifact instead of replaying training.
  * Parquet, not a cached DataFrame, because the bench/verify harnesses
  * clear all caches and unpersist all RDDs between queries — which would
  * sever a localCheckpoint lineage but cannot touch files.
  *
  * Two artifact tiers (r12 verdict #1):
  *
  *  - '''Process-local (default)''': temp dirs that live for the process
  *    and are deleted on exit (r8 ADVICE — they leaked). Right for tests
  *    and one-shot jobs; every new session re-trains.
  *  - '''Durable''' — set [[RootConf]] to an artifact root (HDFS/S3A/
  *    local; resolved through the Hadoop FileSystem like the index
  *    manifests themselves): artifacts persist under
  *    `root/<variant>-fp<hash(fingerprint)>` and a SECOND session (fresh
  *    process, fresh registry) REOPENS the artifact with ZERO training or
  *    hashing jobs — the production serving shape, where the index lives
  *    next to the corpus and sessions come and go. A mutated source table
  *    changes the fingerprint, hence the directory name, hence REBUILDS;
  *    superseded fingerprint dirs are retention-managed by the operator
  *    (other sessions may still be serving them — exactly the immutable-
  *    segment contract of the artifacts inside).
  *
  * Staleness (r8 ADVICE): the key includes name+length+mtime of every
  * file under the source table — if the table is regenerated or mutated
  * the key changes and the next access REBUILDS instead of silently
  * serving the old snapshot's index. Cheap (one directory listing, no
  * data read), so it runs on every access.
  *
  * Durable publish protocol: build into a `.tmp-*` sibling, stamp the
  * full fingerprint into `_GRAFT_FINGERPRINT` LAST, then publish with one
  * `rename` (atomic on HDFS and local filesystems; on object stores the
  * losing writer of a race re-validates the winner's fingerprint). A
  * crashed build leaves only a `.tmp-*` dir — never a half-published
  * artifact — cleaned by operator retention like superseded fingerprints.
  */
private[pipeline] object IndexStore {

  /** Conf key for the durable artifact root; unset = process-local temp
    * dirs. Runtime-settable (`spark.conf.set`) — it is read per access. */
  val RootConf = "spark.graft.index.root"

  /** Per-key memoized build (r12 ADVICE): `computeIfAbsent` only INSERTS
    * the cheap holder under the map's bin lock; the build itself is forced
    * OUTSIDE it through the holder's `lazy val`, so racing first consumers
    * of the same key still block (on the holder's monitor — exactly one
    * build per key) but a long build no longer stalls unrelated keys that
    * hash to the same bin, and a build thunk that resolves ANOTHER index
    * via [[getOrBuild]] (e.g. [[Dedup]]'s merged-index demo) recurses
    * safely instead of hitting ConcurrentHashMap's nested-update
    * IllegalStateException. */
  private final class Memo(thunk: () => String) {
    lazy val value: String = thunk()
  }

  private val built =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, String), Memo]()

  /** Staleness key: per-file `name:length:mtime` stamps of
    * `dir/<table>.parquet` (a directory of part files or a single file).
    * Resolved through the Hadoop FileSystem with the SESSION's
    * hadoopConfiguration (r13 ADVICE: a fresh `new Configuration()` here
    * ignored `spark.hadoop.*` credentials/endpoints/FS impls, so on
    * S3A/HDFS the lookup threw and the catch silently disabled staleness
    * detection — the exact failure fingerprinting exists to prevent).
    * Falls back to the raw path string when the filesystem genuinely
    * cannot be reached — a constant key, i.e. no staleness detection,
    * which is the pre-existing behavior for an unreadable table — and
    * WARNS instead of degrading silently. */
  def fingerprint(s: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    try graft.sources.Tables.stamp(s, p.toString)
    catch {
      case e: java.io.IOException =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"IndexStore.fingerprint: cannot stat $p (${e.getMessage}); " +
            "staleness detection DISABLED for this table — a mutated " +
            "source will keep serving its stale index")
        p.toString
    }
  }

  private val tempDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHook: Unit =
    sys.addShutdownHook {
      tempDirs.forEach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).toSeq.flatten.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(d))
      }
    }: Unit

  /** The artifact path for (dir, table, variant) under the session's
    * configured tier, building via `build(out)` at most once per distinct
    * (source fingerprint, variant) — and in durable mode not even that,
    * when a previous SESSION already published a matching artifact. */
  def getOrBuild(s: SparkSession, dir: String, table: String, variant: String)(
      build: String => Unit): String = {
    val fp = fingerprint(s, dir, table)
    val appId = s.sparkContext.applicationId
    built.computeIfAbsent((appId, dir, fp, variant), _ => new Memo(() =>
      durableRoot(s) match {
        case Some(root) => durableGetOrBuild(s, root, variant, fp)(build)
        case None =>
          cleanupHook
          val out = java.nio.file.Files
            .createTempDirectory(s"graft-$variant-").toString
          tempDirs.add(out)
          build(out)
          out
      })).value
  }

  private def durableRoot(s: SparkSession): Option[String] =
    s.conf.getOption(RootConf).map(_.trim).filter(_.nonEmpty)

  /** Fingerprint marker file name inside a published durable artifact —
    * written LAST, so its presence + content IS the publish marker. */
  private[pipeline] val FpMarker = "_GRAFT_FINGERPRINT"

  /** Builds-run counter (test visibility): durable-reopen specs assert it
    * does NOT advance on a second-session open. */
  private[graft] val durableBuilds = new java.util.concurrent.atomic.AtomicLong

  /** MD5 of a source fingerprint — the publish-dir name suffix; ONE
    * encoding shared by publish ([[durableGetOrBuild]]) and retention
    * ([[gc]]) so the two can never drift. Shared with [[IndexArtifact]]'s
    * back-reference markers (consumer-id hashing) for the same reason. */
  private[pipeline] def fpHash(fp: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The publish marker's content inside `dir`, if present and readable —
    * the single marker-read shared by publish validation and retention. */
  private def readMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[String] = {
    val m = new org.apache.hadoop.fs.Path(dir, FpMarker)
    try {
      if (!fs.exists(m)) None
      else {
        val in = fs.open(m)
        val bytes =
          try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
        Some(new String(bytes, "UTF-8"))
      }
    } catch { case _: java.io.IOException => None }
  }

  private def durableGetOrBuild(
      s: SparkSession, root: String, variant: String, fp: String)(
      build: String => Unit): String = {
    import org.apache.hadoop.fs.Path
    val hadoop = s.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(hadoop)
    val dst = new Path(root, s"$variant-fp${fpHash(fp)}")
    def published: Boolean = readMarker(fs, dst).contains(fp)
    if (published) return dst.toString
    durableBuilds.incrementAndGet()
    val tmp = new Path(root,
      s".tmp-$variant-${fpHash(fp)}-${java.util.UUID.randomUUID().toString.take(8)}")
    build(tmp.toString)
    val mo = fs.create(new Path(tmp, FpMarker), true)
    try mo.write(fp.getBytes("UTF-8")) finally mo.close()
    if (!fs.rename(tmp, dst)) {
      // a concurrent builder (or an earlier crashed publish on an object
      // store without atomic rename) holds the destination: re-validate it
      // and serve theirs; a present-but-mismatched artifact is corrupt —
      // fail loudly rather than serve an index of unknown provenance.
      fs.delete(tmp, true): Unit
      require(published,
        s"durable index publish race at $dst: destination exists but its " +
          s"$FpMarker does not match the source fingerprint")
    }
    dst.toString
  }

  /** Default crash-orphan safety window: a `.tmp-*` staging dir (or an
    * unpublished fp-named dir on a non-atomic-rename store) younger than
    * this may belong to a build in flight and is never touched. Six hours
    * is far past the longest plausible index build at any corpus scale
    * this engine targets per snapshot. */
  val DefaultTmpTtlMs: Long = 6L * 3600 * 1000

  private[pipeline] val FpDirName = "(.+)-fp([0-9a-f]{32})".r

  /** RETENTION for a durable artifact root (r14 verdict #1): without it,
    * every corpus mutation strands the superseded `variant-fp<hash>` dir —
    * at one-snapshot-per-day cadence that is unbounded storage creep on
    * the serving tier — and a crashed build strands its `.tmp-*` staging
    * dir forever.
    *
    * `live` declares the serving set as (data dir, table) pairs; their
    * CURRENT fingerprints (hashed exactly as [[durableGetOrBuild]] names
    * publish dirs) are the retention roots. Under `root`:
    *
    *  - `<variant>-fp<hash>` with a live hash and a VALID publish marker
    *    (present, content = a live fingerprint) → kept: the serving
    *    artifact.
    *  - `<variant>-fp<hash>` with a non-live hash → removed ONCE OLDER
    *    than `tmpTtlMs`: superseded by a corpus mutation; no current
    *    session can resolve to it (the dir name is derived from the
    *    fingerprint, so a reader of this artifact is reading a corpus
    *    state that no longer exists). The age guard closes the
    *    mutation-during-gc race: a corpus that mutates AFTER gc snapshots
    *    the live fingerprints gets its freshly-published new-fingerprint
    *    artifact kept (young), collected only by a later gc.
    *  - `<variant>-fp<hash>` live-named but with a missing/mismatched
    *    marker → UNPUBLISHED: [[durableGetOrBuild]] can never serve it
    *    (`published` is false). Removed once older than `tmpTtlMs` —
    *    crashed non-atomic-rename publish debris whose presence would
    *    otherwise deadlock every rebuild at the rename-race `require`;
    *    younger dirs are left alone (a publish may be landing right now).
    *  - `.tmp-*` older than `tmpTtlMs` → removed (crash orphan); younger
    *    → kept (a build in flight — concurrent-publish safety).
    *  - anything else → never touched: gc deletes only names this store
    *    created.
    *
    * Concurrent-publish safety overall: a racing builder's staging dir is
    * young (kept); its rename is atomic, so the artifact is visible either
    * as that young tmp or as a published live dir (kept). A gc'd STALE dir
    * cannot race a builder: builders only ever write dirs named by current
    * fingerprints, which gc keeps. Within one root, variants of the same
    * corpus share the fingerprint hash, so an LSM merge's references into
    * its base artifact live or die together.
    *
    * Cross-root references are MANIFEST-AWARE (r16, r15 verdict #1 — they
    * used to survive only by operator discipline): a merge that
    * absolute-references segments under this root left a back-reference
    * marker in `_refs/` here ([[IndexArtifact.writeManifest]]). Each
    * marker is validated against the CONSUMER's live manifest:
    *
    *  - consumer manifest still reaches into this root → the referenced
    *    artifact dirs are pinned (kept even when superseded + past TTL);
    *  - consumer readable but no longer references this root (compacted
    *    into a self-contained artifact) → the marker is expired NOW and
    *    the segments are collectable;
    *  - consumer gone (clean not-found) → marker expired once older than
    *    `tmpTtlMs` — younger markers are kept because a merge publishes
    *    its marker BEFORE its manifest, so a young not-yet-resolvable
    *    consumer may be a publish in flight;
    *  - consumer unreachable with a genuine IO error → gc ABORTS loudly,
    *    exactly like an un-fingerprintable live table: deleting anything
    *    while a reference cannot be validated risks collecting segments a
    *    serving artifact still reads.
    *
    * So a stale marker can never pin storage forever, and a live merged
    * artifact in another root can never lose its segments to this gc. */
  def gc(
      s: SparkSession,
      root: String,
      live: Seq[(String, String)],
      tmpTtlMs: Long = DefaultTmpTtlMs): IndexRetention.GcReport = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(root).getFileSystem(s.sparkContext.hadoopConfiguration)
    // STRICT fingerprints: the warn-and-fall-back behavior getOrBuild
    // tolerates (it merely disables staleness detection) would here turn a
    // transient stat failure into a constant key that matches no published
    // dir — silently reclassifying the live serving artifact as stale and
    // DELETING it. A gc that cannot see a live table must abort loudly.
    val liveFps = live.map { case (dir, table) =>
      try graft.sources.Tables.stamp(s, s"$dir/$table.parquet")
      catch {
        case e: java.io.IOException => throw new java.io.IOException(
          s"IndexRetention.gc aborted: cannot fingerprint live table " +
            s"$dir/$table.parquet — deleting anything now could collect " +
            s"its serving artifact (${e.getMessage})", e)
      }
    }.toSet
    val liveHashes = liveFps.map(fpHash)
    val now = System.currentTimeMillis()
    val removedStale = Seq.newBuilder[String]
    val removedOrphans = Seq.newBuilder[String]
    val removedRefs = Seq.newBuilder[String]
    val kept = Seq.newBuilder[String]

    // ---- cross-root back-reference pins (r16; see scaladoc) ----
    val rootUri = fs.makeQualified(new Path(root)).toString
    val pinnedNames = scala.collection.mutable.Set[String]()
    val pinnedBy = scala.collection.mutable.Map[String, String]()
    val markers =
      (try fs.listStatus(new Path(new Path(root), IndexArtifact.RefsDirName)).toSeq
       catch { case _: java.io.FileNotFoundException => Seq.empty })
        // only names this store created (checksum FSs add .crc sidecars,
        // which fs.delete on the marker removes together)
        .filter(_.getPath.getName.startsWith("ref-"))
    markers.foreach { mst =>
      val mp = mst.getPath
      val markerOld = now - mst.getModificationTime > tmpTtlMs
      // line 1: consumer root; rest: the dir names referenced at write
      // time (advisory — trusted ONLY inside the in-flight window below)
      val lines =
        try {
          val in = fs.open(mp)
          val bytes =
            try org.apache.commons.io.IOUtils.toByteArray(in)
            finally in.close()
          new String(bytes, "UTF-8").split("\n").toSeq.map(_.trim)
            .filter(_.nonEmpty)
        } catch { case _: java.io.FileNotFoundException => Seq.empty }
      val referenced: Option[Seq[String]] = lines.headOption match {
        case None => None // unreadable/empty marker ≈ consumer unresolvable
        case Some(cRoot) =>
          try Some(IndexArtifact.readManifest(s, cRoot)
            .map(seg => fs.makeQualified(new Path(seg)))
            .flatMap(IndexArtifact.storeRefOf)
            .collect { case (sr, name) if sr.toString == rootUri => name }
            .distinct)
          catch {
            case _: java.io.FileNotFoundException => None // consumer gone
            case e: java.io.IOException => throw new java.io.IOException(
              s"IndexRetention.gc aborted: cannot validate back-reference " +
                s"$mp (consumer ${lines.head} unreachable: ${e.getMessage})" +
                " — deleting anything now could collect segments a merged " +
                "artifact still serves", e)
          }
      }
      def pin(names: Seq[String]): Unit = {
        pinnedNames ++= names
        names.foreach(n => pinnedBy(n) = mp.toString)
        kept += mp.toString
      }
      referenced match {
        case Some(names) if names.nonEmpty => pin(names)
        case Some(_) =>
          // consumer compacted into a self-contained artifact: the
          // reference is released — expire the marker now
          fs.delete(mp, false): Unit; removedRefs += mp.toString
        case None =>
          // consumer not resolvable: a young marker may belong to a merge
          // whose manifest hasn't published yet (markers land before the
          // manifest) — honor its ADVISORY dir list so a simultaneous
          // supersede can't collect what the landing merge references; an
          // old one is debris from a deleted consumer
          if (markerOld) { fs.delete(mp, false): Unit; removedRefs += mp.toString }
          else pin(lines.drop(1))
      }
    }

    val children =
      try fs.listStatus(new Path(root)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    children.foreach { st =>
      val p = st.getPath
      val name = p.getName
      val olderThanTtl = now - st.getModificationTime > tmpTtlMs
      name match {
        case n if n == IndexArtifact.RefsDirName => () // handled above
        case n if n.startsWith(".tmp-") =>
          if (olderThanTtl) { fs.delete(p, true): Unit; removedOrphans += p.toString }
          else kept += p.toString
        case FpDirName(_, _) if pinnedNames.contains(name) =>
          // a merged artifact in another root still serves these segments
          kept += p.toString
        case FpDirName(_, hash) =>
          if (!liveHashes.contains(hash)) {
            // superseded — but only past the safety window (see scaladoc:
            // the mutation-during-gc race)
            if (olderThanTtl) { fs.delete(p, true): Unit; removedStale += p.toString }
            else kept += p.toString
          } else if (readMarker(fs, p).exists(liveFps.contains)) kept += p.toString
          else if (olderThanTtl) {
            fs.delete(p, true): Unit; removedOrphans += p.toString
          } else kept += p.toString
        case _ => kept += p.toString
      }
    }
    IndexRetention.GcReport(
      removedStale.result(), removedOrphans.result(), kept.result(),
      pinnedBy.toMap, removedRefs.result())
  }
}

/** Public face of durable-index retention — [[IndexStore.gc]] is package-
  * private with the rest of the store; operators schedule GC through this.
  * `live` lists the (data dir, table) pairs currently being served; every
  * superseded-fingerprint artifact and crash-orphaned staging dir under
  * `root` older than the safety window is removed, in-flight publishes and
  * foreign files are untouched. */
object IndexRetention {

  /** What [[gc]] did, full paths — the operator's audit record. `pinned`
    * maps each artifact-dir name a cross-root merged artifact still
    * references (kept even when superseded) to the back-reference marker
    * that pinned it; `removedRefs` lists expired markers (consumer
    * compacted or gone past the safety window). */
  final case class GcReport(
      removedStale: Seq[String],
      removedOrphans: Seq[String],
      kept: Seq[String],
      pinned: Map[String, String] = Map.empty,
      removedRefs: Seq[String] = Seq.empty)

  def gc(
      s: SparkSession,
      root: String,
      live: Seq[(String, String)],
      tmpTtlMs: Long = IndexStore.DefaultTmpTtlMs): GcReport =
    IndexStore.gc(s, root, live, tmpTtlMs)
}
