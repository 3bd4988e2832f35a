package graft.collections

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Collection snapshot / restore — the reference host's snapshot API
  * (create a portable archive of a collection's config + points, restore
  * it elsewhere) re-expressed in Spark's storage model: the points as
  * parquet (written distributed, one file per partition — at 100 TB the
  * snapshot IS a parquet dataset, not a tar stream through one node) plus
  * a descriptor manifest that preserves what the data alone cannot
  * (per-field dim and metric; `CollectionDescriptor.fromSchema` would
  * default those).
  */
object Snapshot {

  private def manifest(desc: CollectionDescriptor): String = {
    val fields = desc.fields.map {
      case DenseField(n, d, m) => s"field=dense|$n|$d|$m"
      case MultiField(n, d)    => s"field=multi|$n|$d|"
      case SparseField(n)      => s"field=sparse|$n||"
    }
    (Seq(s"name=${desc.name}", s"named=${desc.named}") ++ fields).mkString("\n")
  }

  private[graft] def parseManifest(text: String, newName: String): CollectionDescriptor = {
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    def valueOf(key: String): String = lines
      .collectFirst { case l if l.startsWith(s"$key=") => l.stripPrefix(s"$key=") }
      .getOrElse(throw new IllegalArgumentException(s"manifest missing '$key='"))
    val fields = lines.filter(_.startsWith("field=")).map { l =>
      l.stripPrefix("field=").split("\\|", -1) match {
        case Array("dense", n, d, m)  => DenseField(n, d.toInt, m)
        case Array("multi", n, d, _)  => MultiField(n, d.toInt)
        case Array("sparse", n, _, _) => SparseField(n)
        case other => throw new IllegalArgumentException(
          s"bad manifest field line: ${other.mkString("|")}")
      }
    }
    CollectionDescriptor(newName, fields, named = valueOf("named").toBoolean)
  }

  /** Snapshot `collection` of the registered store `storeName` to `path`:
    * `path/points` (parquet, full decoded frame through the connector —
    * the read is partitioned and filter/projection-free) and
    * `path/MANIFEST` (descriptor).
    */
  def create(spark: SparkSession, storeName: String, collection: String,
             path: String): Unit = {
    import graft.sources.CollectionStores
    // mutation-atomic like [[createStorage]]: the export runs under the
    // registry's per-name write lock so a concurrently committed batch
    // is wholly in or wholly out of the snapshot (registry gets are
    // lock-free — the export's own scan, and every other reader, keep
    // serving the pre-lock instance)
    CollectionStores.update(storeName) { s =>
      val desc = s.collectionInfo(collection)
      spark.read.format("graft.sources.CollectionDataSource")
        .option("store", storeName).option("collection", collection)
        .option("partitions", "4").load()
        .write.mode("overwrite").parquet(s"$path/points")
      Files.write(Paths.get(path, "MANIFEST"),
        manifest(desc).getBytes(StandardCharsets.UTF_8))
      s
    }
  }

  /** Restore the snapshot at `path` as collection `newName`, registering
    * the rebuilt store as `newStoreName`. Dim and metric come from the
    * manifest, not schema inference, so a restored collection serves
    * exactly like the original.
    */
  def restore(spark: SparkSession, path: String, newStoreName: String,
              newName: String): DataFrame = {
    import graft.sources.{CollectionStores, InMemoryCollectionStore}
    val text = new String(Files.readAllBytes(Paths.get(path, "MANIFEST")),
      StandardCharsets.UTF_8)
    val desc = parseManifest(text, newName)
    val points = spark.read.parquet(s"$path/points")
    CollectionStores.register(newStoreName,
      InMemoryCollectionStore.fromRows(points, newName, desc))
    spark.read.format("graft.sources.CollectionDataSource")
      .option("store", newStoreName).option("collection", newName)
      .option("partitions", "4").load()
  }

  /** STORAGE-LEVEL snapshot of a parquet-backed collection: copy the
    * store's whole directory tree — primaries, changelog, AND every
    * index sidecar (`_hnsw`/`_ivf`/`_pidx`/`_sparse`/`_tidx`/`_gidx`,
    * watermark and tombstone files included) — beside the manifest.
    * This is the backend's snapshot semantics (its snapshots archive
    * the storage directory, index included, precisely so recovery is
    * serve-ready — /root/reference/tests/bin/config.yaml:24-37 snapshot
    * config, :198 snapshot/wal_delta recovery-transfer methods): a
    * [[restoreStorage]]d collection's FIRST search is index-served, no
    * optimize rebuild. At 100 TB the copy is a whole-file filesystem /
    * object-store transfer (the distcp shape — no row ever decodes);
    * restore-then-rebuild would pay days of index compute the snapshot
    * already holds. [[create]] remains the PORTABLE form (points +
    * manifest, readable by any engine); this is the OPERATIONAL form.
    */
  def createStorage(storeName: String, collection: String,
                    path: String): Unit =
    // MUTATION-ATOMIC: the copy runs under the registry's per-name
    // write lock (every single-store mutation — connector commits,
    // catalog DDL, both wire services — routes through
    // CollectionStores.update), so a concurrently committed batch
    // either fully precedes or fully follows the archive; a torn
    // mid-commit copy cannot happen. Reads never block (registry gets
    // are lock-free). Topology wrappers mutate member state without
    // the registry — their arms below additionally hold the wrapper's
    // own monitor, the lock every wrapper mutator takes.
    graft.sources.CollectionStores.update(storeName) { s =>
      createStorageOfStore(s, collection, path); s
    }

  private def createStorageOfStore(store: graft.sources.CollectionStore,
                                   collection: String,
                                   path: String): Unit = {
    import graft.sources.{AliasedCollectionStore, ParquetCollectionStore,
      ReplicatedCollectionStore, ShardedCollectionStore}
    def parquetOf(s: graft.sources.CollectionStore,
                  role: String): ParquetCollectionStore = s match {
      case p: ParquetCollectionStore => p
      case other => throw new IllegalArgumentException(
        s"storage snapshots need parquet-backed $role, got " +
          other.getClass.getName)
    }
    store match {
      // ALIASES are pure indirection: snapshotting through a production
      // alias archives the RESOLVED collection on the underlying store —
      // the archive carries the concrete name, so a restore is
      // alias-free (re-aliasing is the operator's explicit step, exactly
      // the backend's reindex-flip discipline)
      case a: AliasedCollectionStore =>
        createStorageOfStore(a.inner,
          AliasedCollectionStore.resolve(a, collection), path)
      case p: ParquetCollectionStore =>
        createStorageOf(p, collection, path)
      // SHARDED topology: one archive PER MEMBER (the backend snapshots
      // per shard precisely so a cluster restores member by member —
      // /root/reference/tests/bin/config.yaml:24-37,198) plus a topology
      // manifest. Placement survives by construction: members restore in
      // archive order and rendezvous routing depends only on (id, N).
      // A REPLICATED member (the full production topology — placement ×
      // replication) archives ONE of its replicas and records the
      // replica count, exactly the top-level replicated rule per shard.
      case sh: ShardedCollectionStore => sh.synchronized {
        // wrapper mutators all hold the wrapper monitor, so the member
        // copies are atomic vs routed churn (a batch lands wholly
        // before or wholly after EVERY member's archive)
        val desc = sh.collectionInfo(collection)
        val extra = sh.shards.zipWithIndex.flatMap {
          case (r: ReplicatedCollectionStore, i) =>
            val head = parquetOf(r.replicas.head, s"shard $i replica 0")
            copyTree(Paths.get(head.dir),
              Paths.get(path, s"member$i", "storage"))
            Seq(s"member$i.replicas=${r.replicas.length}")
          case (m, i) =>
            val p = parquetOf(m, s"shard $i")
            copyTree(Paths.get(p.dir),
              Paths.get(path, s"member$i", "storage"))
            Nil
        }
        Files.write(Paths.get(path, "MANIFEST"),
          (Seq(manifest(desc), s"topology=sharded",
            s"members=${sh.shards.length}") ++ extra).mkString("\n")
            .getBytes(StandardCharsets.UTF_8)): Unit
      }
      // REPLICATED topology: replicas are interchangeable copies by the
      // write-all contract, so ONE archive (the first replica's tree)
      // restores the whole set — the backend's snapshot-transfer
      // recovery shape, where a single replica's snapshot reseeds peers.
      case rep: ReplicatedCollectionStore => rep.synchronized {
        // the replica set's write-all holds this monitor — the single
        // archive is a commit-boundary view of replica 0
        val desc = rep.collectionInfo(collection)
        val head = parquetOf(rep.replicas.head, "replica 0")
        copyTree(Paths.get(head.dir), Paths.get(path, "member0", "storage"))
        Files.write(Paths.get(path, "MANIFEST"),
          (manifest(desc) +
            s"\ntopology=replicated\nmembers=${rep.replicas.length}")
            .getBytes(StandardCharsets.UTF_8)): Unit
      }
      case other => throw new IllegalArgumentException(
        s"storage snapshots need a parquet-backed store (or a sharded/" +
          s"replicated topology of them), got " + other.getClass.getName)
    }
    ()
  }

  /** The single-store slice of [[createStorage]]: archive ONE
    * parquet-backed store's whole tree + its manifest at `path` — the
    * self-contained member form every topology arm composes.
    */
  private def createStorageOf(p: graft.sources.ParquetCollectionStore,
                              collection: String, path: String): Unit = {
    val desc = p.collectionInfo(collection)
    copyTree(Paths.get(p.dir), Paths.get(path, "storage"))
    Files.write(Paths.get(path, "MANIFEST"),
      manifest(desc).getBytes(StandardCharsets.UTF_8)): Unit
  }

  /** CLUSTER snapshot of a sharded topology whose members are REMOTE
    * services: fan the per-node storage-snapshot verb — each member
    * archives ITS slice on ITS node (`paths(i)` is shard i's
    * member-side archive path), the backend's cluster snapshot shape
    * (per-node archives, /root/reference/tests/bin/config.yaml:24-37;
    * no central stream — at 100 TB nothing but the control-plane verbs
    * crosses the wire). Local parquet members archive directly (mixed
    * topologies compose). Each NODE-side archive is individually
    * mutation-atomic (the service's snapshot handler runs under its
    * store's registry write lock); CROSS-member consistency is the
    * operator's quiesce, exactly the backend's per-node snapshot
    * contract — a cluster-wide consistent cut would mean stopping
    * writes for the whole fan.
    */
  def createStorageCluster(storeName: String, collection: String,
                           paths: Seq[String]): Unit =
    createStorageClusterOf(
      graft.sources.CollectionStores.get(storeName), collection, paths)

  private def createStorageClusterOf(store: graft.sources.CollectionStore,
                                     collection: String,
                                     paths: Seq[String]): Unit = {
    import graft.sources.{AliasedCollectionStore, ReplicatedCollectionStore,
      ShardedCollectionStore}
    store match {
      // aliases resolve before the fan — the archives are of the
      // concrete collection (see [[createStorage]]'s alias rule)
      case a: AliasedCollectionStore =>
        createStorageClusterOf(a.inner,
          AliasedCollectionStore.resolve(a, collection), paths)
      case sh: ShardedCollectionStore =>
        require(paths.length == sh.shards.length,
          s"need one archive path per shard " +
            s"(${sh.shards.length}), got ${paths.length}")
        sh.shards.zip(paths).zipWithIndex.foreach {
          case ((m, p), i) => memberSnapshot(m, collection, p, i)
        }
      // REPLICATED-of-wire: replicas are interchangeable copies, so ONE
      // member archives on ITS node and that single archive reseeds the
      // whole set at recover time — the backend's snapshot-transfer
      // recovery shape over the wire. In production the path is an
      // object-store URI, which is exactly what makes the one-archive
      // rule real: any peer can recover from it.
      case rep: ReplicatedCollectionStore =>
        require(paths.length == 1,
          s"a replica set archives ONCE (interchangeable copies), " +
            s"got ${paths.length} paths")
        memberSnapshot(rep.replicas.head, collection, paths.head, 0)
      case other => throw new IllegalArgumentException(
        "cluster snapshots take a sharded or replicated topology, got " +
          other.getClass.getName)
    }
  }

  /** One member's node-side archive verb: wire members snapshot ON
    * THEIR SERVICE, local parquet members archive directly — the arm
    * every cluster verb fans with.
    */
  private def memberSnapshot(m: graft.sources.CollectionStore,
                             collection: String, path: String,
                             i: Int): Unit = m match {
    case w: graft.sources.WireCollectionClient =>
      w.snapshotStorage(collection, path)
    case p: graft.sources.ParquetCollectionStore =>
      createStorageOf(p, collection, path)
    case other => throw new IllegalArgumentException(
      s"member $i cannot snapshot node-side: " + other.getClass.getName)
  }

  /** Recover a [[createStorageCluster]] snapshot: fan the per-node
    * recover verb — each member SERVICE restores its archive under
    * `dirs(i)` and swaps its backing store, while the wrapper keeps
    * serving through the same stable clients (the backend's
    * member-by-member recovery; placement is untouched because the
    * member list never changes). Remote members only: a LOCAL member
    * has no swap seam — restore it with [[restoreStorage]] before
    * wrapping.
    */
  def recoverStorageCluster(storeName: String, collection: String,
                            paths: Seq[String], dirs: Seq[String],
                            ivfNprobe: Int = 0, ivfCandidateK: Int = 0,
                            hnswEf: Int = 0, hnswCandidateK: Int = 0): Unit =
    recoverStorageClusterOf(graft.sources.CollectionStores.get(storeName),
      collection, paths, dirs, ivfNprobe, ivfCandidateK, hnswEf,
      hnswCandidateK)

  private def recoverStorageClusterOf(store: graft.sources.CollectionStore,
                                      collection0: String,
                                      paths: Seq[String], dirs: Seq[String],
                                      ivfNprobe: Int, ivfCandidateK: Int,
                                      hnswEf: Int,
                                      hnswCandidateK: Int): Unit = {
    import graft.sources.{AliasedCollectionStore, ReplicatedCollectionStore,
      ShardedCollectionStore, WireCollectionClient}
    val collection = collection0
    def memberRecover(m: graft.sources.CollectionStore, p: String,
                      d: String, i: Int): Unit = m match {
      case w: WireCollectionClient =>
        w.recoverStorageSnapshot(collection, p, d, ivfNprobe,
          ivfCandidateK, hnswEf, hnswCandidateK)
      case other => throw new IllegalArgumentException(
        s"member $i has no service-side swap seam (" +
          other.getClass.getName +
          ") — restore local members with restoreStorage before wrapping")
    }
    store match {
      // aliases resolve before the fan (see [[createStorage]]'s rule)
      case a: AliasedCollectionStore =>
        recoverStorageClusterOf(a.inner,
          AliasedCollectionStore.resolve(a, collection0), paths, dirs,
          ivfNprobe, ivfCandidateK, hnswEf, hnswCandidateK)
      case sh: ShardedCollectionStore =>
        require(paths.length == sh.shards.length &&
          dirs.length == sh.shards.length,
          "need one archive path and one restore dir per shard")
        sh.shards.zip(paths.zip(dirs)).zipWithIndex.foreach {
          case ((m, (p, d)), i) => memberRecover(m, p, d, i)
        }
      // the ONE archive reseeds EVERY replica: each member service
      // recovers from the same archive path under its own dir — the
      // snapshot-transfer reseed, fanned as control-plane verbs
      case rep: ReplicatedCollectionStore =>
        require(paths.length == 1 &&
          dirs.length == rep.replicas.length,
          "a replica set recovers every member from ONE archive — need " +
            "1 path and one restore dir per replica")
        rep.replicas.zip(dirs).zipWithIndex.foreach {
          case ((m, d), i) => memberRecover(m, paths.head, d, i)
        }
      case other => throw new IllegalArgumentException(
        "cluster recover takes a sharded or replicated topology, got " +
          other.getClass.getName)
    }
  }

  /** The DR drill for a [[createStorageCluster]] snapshot: verify every
    * member's NODE-side archive member by member — wire members run
    * [[verifyStorage]] ON THEIR SERVICE (the archive never crosses; only
    * the verb and the findings do), local parquet members drill their
    * archive directly. Findings come back prefixed `shard <i>: ` so an
    * operator reads one flat report for the whole cluster; EMPTY =
    * every member's backup is sound. Metadata-only on every node — at
    * 100 TB the whole drill touches KBs of manifests and markers.
    */
  def verifyStorageCluster(storeName: String, collection: String,
                           paths: Seq[String]): Seq[String] =
    verifyStorageClusterOf(
      graft.sources.CollectionStores.get(storeName), collection, paths)

  private def verifyStorageClusterOf(store: graft.sources.CollectionStore,
                                     collection: String,
                                     paths: Seq[String]): Seq[String] = {
    import graft.sources.{AliasedCollectionStore, ParquetCollectionStore,
      ReplicatedCollectionStore, ShardedCollectionStore, WireCollectionClient}
    def memberVerify(m: graft.sources.CollectionStore, p: String,
                     i: Int): Seq[String] = m match {
      case w: WireCollectionClient => w.verifyStorageSnapshot(collection, p)
      case _: ParquetCollectionStore => verifyStorage(p)
      case other => throw new IllegalArgumentException(
        s"member $i cannot verify node-side: " + other.getClass.getName)
    }
    store match {
      // aliases resolve before the fan (see [[createStorage]]'s rule)
      case a: AliasedCollectionStore =>
        verifyStorageClusterOf(a.inner,
          AliasedCollectionStore.resolve(a, collection), paths)
      case sh: ShardedCollectionStore =>
        require(paths.length == sh.shards.length,
          s"need one archive path per shard " +
            s"(${sh.shards.length}), got ${paths.length}")
        sh.shards.zip(paths).zipWithIndex.flatMap {
          case ((m, p), i) => memberVerify(m, p, i).map(f => s"shard $i: $f")
        }
      // a replica set's single archive drills through replica 0 (the
      // member that wrote it — its node holds the archive)
      case rep: ReplicatedCollectionStore =>
        require(paths.length == 1,
          s"a replica set holds ONE archive, got ${paths.length} paths")
        memberVerify(rep.replicas.head, paths.head, 0)
      case other => throw new IllegalArgumentException(
        "cluster verify takes a sharded or replicated topology, got " +
          other.getClass.getName)
    }
  }

  /** Restore a [[createStorage]] snapshot under `dir` and register it as
    * `newStoreName`/`newName`: the copied tree IS the store — sidecars,
    * watermarks, tombstones, and changelog land exactly as archived, so
    * the first search serves from the restored index (pass the serving
    * dials the original used). No rebuild, no re-seal. Topology
    * snapshots re-compose: a `topology=sharded` manifest restores each
    * member archive under `dir/m<i>` (archive order = shard order, so
    * rendezvous placement is untouched) and registers the re-wrapped
    * [[graft.sources.ShardedCollectionStore]]; `topology=replicated`
    * reseeds every replica from the single archive (the interchangeable-
    * copies contract) under `dir/r<i>` and re-wraps — each member's
    * sidecars land serve-ready, exactly the single-store guarantee
    * member by member.
    */
  def restoreStorage(spark: SparkSession, path: String, newStoreName: String,
                     newName: String, dir: String, ivfNprobe: Int = 0,
                     ivfCandidateK: Int = 0, hnswEf: Int = 0,
                     hnswCandidateK: Int = 0): DataFrame = {
    import graft.sources.{CollectionStores, ParquetCollectionStore,
      ReplicatedCollectionStore, ShardedCollectionStore}
    val text = new String(Files.readAllBytes(Paths.get(path, "MANIFEST")),
      StandardCharsets.UTF_8)
    val desc = parseManifest(text, newName)
    def member(d: String): ParquetCollectionStore =
      new ParquetCollectionStore(d, newName, desc, ivfNprobe,
        ivfCandidateK, hnswEf, hnswCandidateK)
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    def opt(key: String): Option[String] = lines
      .collectFirst { case l if l.startsWith(s"$key=") => l.stripPrefix(s"$key=") }
    (opt("topology"), opt("members").map(_.toInt)) match {
      case (Some("sharded"), Some(n)) =>
        val members = (0 until n).map { i =>
          opt(s"member$i.replicas").map(_.toInt) match {
            // a replicated shard reseeds from its single archive —
            // placement × replication restores in one pass
            case Some(r) =>
              val reps = (0 until r).map { j =>
                copyTree(Paths.get(path, s"member$i", "storage"),
                  Paths.get(dir, s"m$i", s"r$j"))
                member(s"$dir/m$i/r$j")
              }
              new ReplicatedCollectionStore(reps): graft.sources.CollectionStore
            case None =>
              copyTree(Paths.get(path, s"member$i", "storage"),
                Paths.get(dir, s"m$i"))
              member(s"$dir/m$i")
          }
        }
        CollectionStores.register(newStoreName,
          new ShardedCollectionStore(members))
      case (Some("replicated"), Some(n)) =>
        val members = (0 until n).map { i =>
          copyTree(Paths.get(path, "member0", "storage"),
            Paths.get(dir, s"r$i"))
          member(s"$dir/r$i")
        }
        CollectionStores.register(newStoreName,
          new ReplicatedCollectionStore(members))
      case _ =>
        copyTree(Paths.get(path, "storage"), Paths.get(dir))
        CollectionStores.register(newStoreName, member(dir))
    }
    spark.read.format("graft.sources.CollectionDataSource")
      .option("store", newStoreName).option("collection", newName)
      .option("partitions", "4").load()
  }

  /** Validate a [[createStorage]] (or topology) archive WITHOUT
    * restoring it — the DR drill an operator runs against backups
    * without paying a restore. Findings returned as human-readable
    * strings; EMPTY = sound. Checks, per member archive:
    *
    *  - the manifest parses (name, fields, topology arithmetic);
    *  - the storage tree holds at least one primary parquet file;
    *  - no sidecar marker is PARKED (a parked marker means the archive
    *    captured a crashed consolidation window — restorable, but that
    *    family would be invisible until the next reseal: exactly what
    *    an operator wants to know BEFORE the incident);
    *  - present watermark/stats files parse (a torn watermark restores
    *    to a longer overlay tail — flagged, not fatal).
    *
    * Validation is metadata-only (file listings + tiny text reads) —
    * at 100 TB it touches KBs, never the data.
    */
  def verifyStorage(path: String): Seq[String] = {
    val findings = Seq.newBuilder[String]
    val manifestFile = Paths.get(path, "MANIFEST")
    if (!Files.isRegularFile(manifestFile)) {
      findings += s"missing MANIFEST at $path"
      return findings.result()
    }
    val text = new String(Files.readAllBytes(manifestFile),
      StandardCharsets.UTF_8)
    try parseManifest(text, "probe"): Unit
    catch { case e: Exception =>
      findings += s"manifest does not parse: ${e.getMessage}"
      return findings.result()
    }
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    def opt(key: String): Option[String] = lines
      .collectFirst { case l if l.startsWith(s"$key=") => l.stripPrefix(s"$key=") }
    val memberDirs: Seq[java.io.File] =
      (opt("topology"), opt("members").map(_.toInt)) match {
        case (Some("sharded"), Some(n)) =>
          (0 until n).map(i => new java.io.File(s"$path/member$i/storage"))
        case (Some("replicated"), Some(_)) =>
          Seq(new java.io.File(s"$path/member0/storage"))
        case (Some(t), n) =>
          findings += s"unintelligible topology lines: topology=$t members=$n"
          Nil
        case _ => Seq(new java.io.File(s"$path/storage"))
      }
    memberDirs.foreach { d =>
      val tag = d.getParentFile.getName match {
        case p if p.startsWith("member") => s"$p: "
        case _ => ""
      }
      if (!d.isDirectory) findings += s"${tag}missing storage tree ${d.getPath}"
      else {
        val primaries = Option(d.listFiles()).getOrElse(Array.empty)
          .count(f => f.isFile && f.getName.endsWith(".parquet"))
        if (primaries == 0)
          findings += s"${tag}no primary parquet files"
        // family markers + crash-window artifacts
        val families = Seq(
          ("_hnsw", "field.txt"), ("_ivf", "field.txt"),
          ("_sparse", "meta.txt"), ("_tidx", "meta.txt"),
          ("_gidx", "meta.txt"))
        families.foreach { case (fam, marker) =>
          val famDir = new java.io.File(d, fam)
          if (famDir.isDirectory) {
            val m = new java.io.File(famDir, marker)
            val parked = new java.io.File(famDir, s"$marker.parked")
            if (parked.isFile)
              findings += s"$tag$fam: PARKED marker (archive captured " +
                "a crashed consolidation window — family invisible " +
                "until resealed)"
            else if (!m.isFile)
              findings += s"$tag$fam: sidecar tree without its marker"
            val wm = new java.io.File(famDir, "inserted.txt")
            if (wm.isFile && graft.sources.ParquetCollectionStore
                .readWatermark(wm).isEmpty)
              findings += s"$tag$fam: torn watermark (restores with a " +
                "longer overlay tail)"
            // the int8 codes tier: serving only checks the DIR exists,
            // so a torn copy that lost the partition files restores to
            // a store that SILENTLY degrades to full-precision caches
            // (8x the RAM) — the drill flags what the serve cannot
            val codes = new java.io.File(famDir, "codes")
            if (codes.isDirectory) {
              val populated = Option(codes.listFiles())
                .getOrElse(Array.empty)
                .exists(p => p.isDirectory && Option(p.listFiles())
                  .getOrElse(Array.empty).exists(_.isFile))
              if (!populated)
                findings += s"$tag$fam: torn codes tier (present but " +
                  "empty — quantized serving would silently degrade " +
                  "to full-precision caches)"
            }
          }
        }
        // keyed payload indexes
        val pidx = new java.io.File(d, "_pidx")
        Option(pidx.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("k_"))
          .foreach { kd =>
            if (new java.io.File(kd, "meta.txt.parked").isFile)
              findings += s"${tag}_pidx/${kd.getName}: PARKED marker"
            else if (!new java.io.File(kd, "meta.txt").isFile)
              findings += s"${tag}_pidx/${kd.getName}: index tree " +
                "without its marker"
          }
      }
    }
    findings.result()
  }

  /** Recursive whole-file copy (driver-side at the store seam; the
    * 100 TB form of this verb is distcp / object-store server-side
    * copy — same whole-file semantics, no decode).
    */
  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val it = Files.walk(src)
    try it.forEach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) { Files.createDirectories(target); () }
      else {
        Files.createDirectories(target.getParent)
        Files.copy(p, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    } finally it.close()
  }

  /** Restore the snapshot at `path` as a PARQUET-backed collection
    * sealed under `dir` — the lakehouse restore: points re-seal into the
    * ranged id-ordered store layout (a distributed write), the manifest
    * drives the descriptor exactly as [[restore]]. Dense-field
    * collections (the cold layout's scope).
    */
  def restoreParquet(spark: SparkSession, path: String, newStoreName: String,
                     newName: String, dir: String): DataFrame = {
    import graft.sources.{CollectionStores, ParquetCollectionStore}
    val text = new String(Files.readAllBytes(Paths.get(path, "MANIFEST")),
      StandardCharsets.UTF_8)
    val desc = parseManifest(text, newName)
    val points = spark.read.parquet(s"$path/points")
      .select(desc.schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
    ParquetCollectionStore.write(points, dir)
    CollectionStores.register(newStoreName,
      new ParquetCollectionStore(dir, newName, desc))
    spark.read.format("graft.sources.CollectionDataSource")
      .option("store", newStoreName).option("collection", newName)
      .option("partitions", "4").load()
  }
}
