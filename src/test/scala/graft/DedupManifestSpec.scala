package graft

import org.apache.spark.sql.functions._
import graft.functions.Dedup

/** The admission stores' commit-log protocol
  * ([[graft.functions.AdmissionManifestStore]]): creation and the
  * legacy-layout refusal, the commit-log source of truth, data files
  * never moved, serializable commits under a lost CAS race, retention
  * GC, orphan vacuum, manifest-list pruning — the protocol properties
  * beside DedupSpec's admission semantics.
  */
class DedupManifestSpec extends SparkTestBase {
  import spark.implicits._

  private val textA =
    "the quick brown fox jumps over the lazy dog near the river bank"
  private val textB =
    "columnar execution engines vectorize parquet scans for analytic joins"
  private val textC =
    "streaming watermarks bound state for late arriving event data"

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  private def commitCount(store: String): Int = {
    val fs = fsOf(store)
    val dir = new org.apache.hadoop.fs.Path(store, "_commits")
    if (!fs.exists(dir)) 0 else fs.listStatus(dir).length
  }

  test("creation, detection, and the in-place-conversion refusal") {
    val store = tmpDir("mfcreate")
    val fs = fsOf(store)
    val s1 = Dedup.nearDupFilterBatch(
      Seq((0L, textA), (1L, textB)).toDF("doc_id", "text"),
      store, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === Set(0L, 1L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(store, "_commits")),
      "the store must carry a _commits log")
    val top = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).toSet
    assert(!top.exists(n => n.startsWith("adm_kb=") || n == "tail" ||
      n == "_nbuckets"), s"store wrote listing-layout entries: $top")
    // detection: a second turn lands on the same store
    val s2 = Dedup.nearDupFilterBatch(
      Seq((2L, textA), (3L, textC)).toDF("doc_id", "text"),
      store, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 === Set(3L), s"store not detected: $s2")
    // layout contract: a mismatched modulus is refused
    intercept[IllegalArgumentException] {
      Dedup.nearDupFilterBatch(
        Seq((4L, textB)).toDF("doc_id", "text"),
        store, "doc_id", "text", nBuckets = 8)
    }
    // a root in the retired LISTING layout (declared modulus, a bucket
    // directory holding a parquet file, a tail directory — no commit
    // log) is refused by every entry point with the replay-migration
    // error, never converted in place
    val legacy = tmpDir("mflegacy")
    val lfs = fsOf(legacy)
    val marker = lfs.create(new org.apache.hadoop.fs.Path(legacy,
      "_nbuckets"), true)
    marker.write("64".getBytes("UTF-8")); marker.close()
    Seq((0L, 0, "k")).toDF("doc_id", "band", "band_key").coalesce(1)
      .write.parquet(s"$legacy/adm_kb=0")
    lfs.mkdirs(new org.apache.hadoop.fs.Path(legacy, "tail"))
    val docs = Seq((9L, textA)).toDF("doc_id", "text")
    val vecs = Seq((9L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val entryPoints: Seq[(String, () => Any)] = Seq(
      "nearDupFilterBatch" -> (() =>
        Dedup.nearDupFilterBatch(docs, legacy, "doc_id", "text")),
      "embedNearDupFilterBatch" -> (() =>
        graft.functions.Similarity.embedNearDupFilterBatch(vecs, legacy,
          planes = 8, dims = 8)),
      "nearDupRemove" -> (() =>
        Dedup.nearDupRemove(docs, legacy, "doc_id", "text")),
      "removeAdmittedIds(Set)" -> (() =>
        Dedup.removeAdmittedIds(spark, legacy, Set(0L))),
      "removeAdmittedIds(DataFrame)" -> (() =>
        Dedup.removeAdmittedIds(spark, legacy, Seq(0L).toDF("id"))),
      "expireAdmitted" -> (() => Dedup.expireAdmitted(spark, legacy, 1L)),
      "stampAdmitted" -> (() => Dedup.stampAdmitted(spark, legacy, 1L)),
      "splitAdmittedBucket" -> (() =>
        Dedup.splitAdmittedBucket(spark, legacy, 0)),
      "maintainAdmitted" -> (() => Dedup.maintainAdmitted(spark, legacy,
        Dedup.AdmissionMaintenancePolicy(compactOverFiles = 1))),
      "admissionStoreStats" -> (() =>
        Dedup.admissionStoreStats(spark, legacy)),
      "rebucketAdmitted" -> (() => Dedup.rebucketAdmitted(spark, legacy, 8)))
    entryPoints.foreach { case (name, call) =>
      val e = intercept[UnsupportedOperationException](call())
      assert(e.getMessage.contains("listing layout") &&
        e.getMessage.contains("replay"),
        s"$name: not the replay-migration error: ${e.getMessage}")
    }
    // the deprecated publish-mode flag accepts only `true`
    val fresh = tmpDir("mflegacyflag")
    val e = intercept[UnsupportedOperationException] {
      Dedup.nearDupFilterBatch(docs, fresh, "doc_id", "text",
        manifestStore = false)
    }
    assert(e.getMessage.contains("replay"))
    // and no refused call started a commit log
    Seq(legacy, fresh).foreach { p =>
      assert(!fsOf(p).exists(new org.apache.hadoop.fs.Path(p, "_commits")),
        s"a refused call created _commits under $p")
    }
  }

  test("a store deleted and re-created at the same path is never " +
    "served from a stale handle's parsed-commit cache, and the " +
    "handle cache itself is LRU-bounded") {
    import graft.functions.AdmissionManifestStore
    val store = tmpDir("mfstale")
    val fs = fsOf(store)
    // store A: 4-bucket layout, resolved through the shared handle
    Dedup.nearDupFilterBatch(
      Seq((0L, textA)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 4)
    assert(Dedup.admissionStoreStats(spark, store)
      .declaredBuckets.contains(4))
    // another process deletes the store and re-creates it at the SAME
    // path with a different layout — recreated version numbers collide
    // with the dead store's; the (version, mtime, length)-keyed cache
    // must not serve A's manifest
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    Dedup.nearDupFilterBatch(
      Seq((10L, textB)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2)
    val stats = Dedup.admissionStoreStats(spark, store)
    assert(stats.declaredBuckets.contains(2),
      s"stale cache served the dead store's manifest: $stats")
    // and the dead store's keys are gone: its admitted doc re-admits
    assert(Dedup.nearDupFilterBatch(
      Seq((1L, textA)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2).count() === 1L,
      "dead store's admissions still suppress after delete+recreate")
    // handle cache bounded: many short-lived store paths must not
    // accrete one retained handle each
    (0 until 200).foreach(i => AdmissionManifestStore(s"$store-h$i"))
    assert(AdmissionManifestStore.cachedHandleCount <= 64,
      s"handle cache unbounded: ${AdmissionManifestStore.cachedHandleCount}")
  }

  test("data files never move: every mutation commits a new " +
    "generation; the root holds only staged dirs and the commit log") {
    val store = tmpDir("mfnomove")
    val fs = fsOf(store)
    Dedup.nearDupFilterBatch(
      Seq((0L, textA), (1L, textB)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2, tailFoldFiles = 0)
    val v1 = commitCount(store)
    assert(v1 >= 2, "append + fold should each commit a generation")
    // file inventory after the turn
    def allFiles(): Set[String] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(p).toSeq.flatMap { s =>
          if (s.isFile) Seq(s.getPath.toString) else walk(s.getPath)
        }
      walk(new org.apache.hadoop.fs.Path(store))
        .filter(_.endsWith(".parquet")).toSet
    }
    val before = allFiles()
    assert(before.nonEmpty)
    // a split mutates the layout but MOVES no file: previously live
    // files are still on disk (retention keeps them for in-flight
    // readers), and the new generation references fresh ones
    val addr = (0 to 1).find(b =>
      Dedup.splitAdmittedBucket(spark, store, b) > 0L)
    assert(addr.nonEmpty)
    val after = allFiles()
    assert(before.subsetOf(after),
      s"a mutation moved or deleted files inside the retention window:" +
        s" ${before -- after}")
    // top-level layout: only staged dirs, group manifests and _commits,
    // never adm_kb= or tail/ (the retired listing layout's entries)
    val top = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName).toSet
    assert(!top.exists(n => n.startsWith("adm_kb=") || n == "tail"),
      s"store leaked listing-layout directories: $top")
  }

  test("windowed admission, expiry in the fold, stamping, and id " +
    "sweeps on the manifest store") {
    val store = tmpDir("mfwindow")
    def admit(docs: Seq[(Long, String)], ts: Long, since: Long)
        : Set[Long] =
      Dedup.nearDupFilterBatch(docs.toDF("doc_id", "text"), store,
        "doc_id", "text", nBuckets = 2, tailFoldFiles = 0,
        admittedAt = ts, suppressSince = since)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admit(Seq((0L, textA), (1L, textB)), 1000L, 0L)
      === Set(0L, 1L))
    // in-window dup suppressed; out-of-window dup admitted
    assert(admit(Seq((10L, textA)), 2000L, 500L) === Set.empty)
    assert(admit(Seq((11L, textB)), 9000L, 5000L) === Set(11L))
    // physical expiry: cutoff above the seed stamps drops them
    val expired = Dedup.expireAdmitted(spark, store, 1500L)
    assert(expired > 0L, "expiry removed nothing")
    assert(admit(Seq((12L, textA)), 9500L, 0L) === Set(12L),
      "expired keys still suppress")
    // id sweep removal (content-free takedown)
    assert(Dedup.removeAdmittedIds(spark, store, Set(11L)) > 0L)
    assert(admit(Seq((13L, textB)), 9900L, 0L) === Set(13L),
      "id-swept keys still suppress")
    // stamping is the no-legacy no-op here (every row carries adm_ts)
    assert(Dedup.stampAdmitted(spark, store, 42L) === 0L)
  }

  test("online split + policy maintenance + stats + rebucket compose " +
    "on the manifest store with decisions unchanged") {
    val store = tmpDir("mfsplit")
    def admit(docs: Seq[(Long, String)]): Set[Long] =
      Dedup.nearDupFilterBatch(docs.toDF("doc_id", "text"), store,
        "doc_id", "text", nBuckets = 2, tailFoldFiles = 0,
        autoCompactFiles = 1)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admit(Seq((0L, textA), (1L, textB), (2L, textC)))
      === Set(0L, 1L, 2L))
    // policy pass: 1-byte budget forces splits; compaction first
    val rep = Dedup.maintainAdmitted(spark, store,
      Dedup.AdmissionMaintenancePolicy(maxBucketBytes = 1L,
        maxSplitsPerRun = 4, compactOverFiles = 1))
    assert(rep.split.nonEmpty, s"policy split nothing: $rep")
    val stats = Dedup.admissionStoreStats(spark, store)
    assert(stats.maxDepth >= 1 && stats.splitBuckets > 0 &&
      stats.declaredBuckets.contains(2),
      s"manifest stats wrong: $stats")
    assert(admit(Seq((10L, textA), (11L, textB), (12L, textC),
      (13L, "deterministic replay semantics for micro batch sinks")))
      === Set(13L), "post-split decisions diverged")
    // full migration: one atomic commit, depth reset, decisions hold
    assert(Dedup.rebucketAdmitted(spark, store, 8) > 0L)
    val stats2 = Dedup.admissionStoreStats(spark, store)
    assert(stats2.declaredBuckets.contains(8) && stats2.maxDepth === 0 &&
      stats2.splitBuckets === 0, s"rebucket stats wrong: $stats2")
    val s4 = Dedup.nearDupFilterBatch(
      Seq((20L, textA), (21L, "yet another novel probe with plenty of " +
        "distinct words here")).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 8, tailFoldFiles = 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s4 === Set(21L), s"post-rebucket decisions diverged: $s4")
  }

  test("a lost CAS race re-derives against the winner: a fold raced " +
    "by a concurrent append keeps BOTH effects") {
    val store = tmpDir("mfrace")
    // seed with an un-folded tail (budget high enough not to fold)
    Dedup.nearDupFilterBatch(
      Seq((0L, textA), (1L, textB)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2, tailFoldFiles = 16)
    val racedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    graft.functions.AdmissionManifestStore.beforeCommitFence =
      (path, _) => {
        if (path == store && racedOnce.compareAndSet(false, true)) {
          // between the mutator's staging and its commit claim, a twin
          // writer lands a whole admission turn (append + fold) — the
          // mutator must lose the CAS and re-derive
          graft.functions.AdmissionManifestStore.beforeCommitFence =
            (_, _) => ()
          Dedup.nearDupFilterBatch(
            Seq((2L, textC)).toDF("doc_id", "text"),
            store, "doc_id", "text", nBuckets = 2, tailFoldFiles = 0)
        }
      }
    try {
      // force the fold: a turn with tailFoldFiles=0 triggers it; its
      // first commit (the tail append) eats the fence
      Dedup.nearDupFilterBatch(
        Seq((3L, "entirely novel subject matter with enough words to " +
          "shingle")).toDF("doc_id", "text"),
        store, "doc_id", "text", nBuckets = 2, tailFoldFiles = 0)
    } finally {
      graft.functions.AdmissionManifestStore.beforeCommitFence =
        (_, _) => ()
    }
    assert(racedOnce.get(), "the CAS race was never fabricated")
    // every admitted doc's keys survived the interleaving: all four
    // docs' dups are rejected
    val probe = Dedup.nearDupFilterBatch(
      Seq((10L, textA), (11L, textB), (12L, textC),
        (13L, "entirely novel subject matter with enough words to " +
          "shingle")).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2)
    assert(probe.count() === 0L,
      "a lost CAS race dropped an admitted doc's keys")
    // two-level commit: the loser's staged GROUP manifests were
    // cleaned with its data staging — no gm- file at the root is
    // unreferenced by the present commits (empty superseded staging
    // DIRS are benign debris vacuum reclaims; a leaked gm file would
    // mean the lost-race cleanup missed the manifest level)
    val st = new graft.functions.AdmissionManifestStore(store)
    val gmOrphans = st.vacuum(spark, olderThanMs = -1L)
      .filter(_.startsWith("gm-"))
    assert(gmOrphans.isEmpty,
      s"lost CAS race leaked group manifests: $gmOrphans")
    // and the store still answers correctly after the sweep
    assert(Dedup.nearDupFilterBatch(
      Seq((30L, textA)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2).count() === 0L,
      "vacuum after the race broke the store")
  }

  test("retention GC reclaims superseded generations' files; vacuum " +
    "reclaims crashed-writer orphans only behind the horizon") {
    val store = tmpDir("mfgc")
    val fs = fsOf(store)
    // churn enough turns to push early generations past retention
    for (i <- 0 until 8)
      Dedup.nearDupFilterBatch(
        Seq((i.toLong, s"subject$i alpha$i bravo$i charlie$i delta$i " +
          s"echo$i foxtrot$i")).toDF("doc_id", "text"),
        store, "doc_id", "text", nBuckets = 2, tailFoldFiles = 0,
        autoCompactFiles = 1)
    val commits = commitCount(store)
    assert(commits <= 8,
      s"retention GC never dropped a commit: $commits on disk")
    // every probe still sees every doc (GC only reclaims unreferenced)
    val probe = Dedup.nearDupFilterBatch(
      (0 until 8).map(i => (100L + i, s"subject$i alpha$i bravo$i " +
        s"charlie$i delta$i echo$i foxtrot$i")).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2)
    assert(probe.count() === 0L, "GC reclaimed a live generation's files")
    // orphan vacuum: a fake crashed staging dir is swept only once old
    val orphan = new org.apache.hadoop.fs.Path(store, "fold-deadbeef")
    fs.mkdirs(orphan)
    val st = new graft.functions.AdmissionManifestStore(store)
    assert(st.vacuum(spark, olderThanMs = 3600000L).isEmpty,
      "vacuum swept a fresh staging dir inside the horizon")
    assert(st.vacuum(spark, olderThanMs = -1L).contains("fold-deadbeef"),
      "vacuum did not reclaim the orphan behind the horizon")
  }

  test("manifest probe reads exactly the touched addresses' files " +
    "plus the bounded tail — never an off-chain bucket's") {
    val store = tmpDir("mfprune")
    // several turns so multiple generations and buckets exist
    for (i <- 0 until 4)
      Dedup.nearDupFilterBatch(
        Seq((i.toLong, s"subject$i alpha$i bravo$i charlie$i delta$i " +
          s"echo$i foxtrot$i")).toDF("doc_id", "text"),
        store, "doc_id", "text", nBuckets = 4, tailFoldFiles = 16)
    val st = new graft.functions.AdmissionManifestStore(store)
    val man = st.resolve(spark).get
    val buckets = st.allBuckets(spark, man)
    assert(buckets.nonEmpty || man.tail.nonEmpty)
    val touched = buckets.keys.toSeq.sorted.take(1)
    val rel = st.probeRel(spark, man, Seq("band", "band_key"),
      touched, suppressSince = 0L)
    if (rel.nonEmpty) {
      val allowed = (touched.flatMap(b =>
          buckets.getOrElse(b, Nil).map(_.path))
        ++ man.tail.map(_.path)).map(f => s"$store/$f").toSet
      val scanned = rel.get.inputFiles
        .map(f => new java.net.URI(f).getPath).toSet
      assert(scanned.nonEmpty)
      val offChain = scanned.filterNot(allowed)
      assert(offChain.isEmpty,
        s"manifest probe read files outside the touched lists: $offChain")
      // and it never read the untouched buckets' files
      val forbidden = (buckets -- touched).values.flatten
        .map(f => s"$store/${f.path}").toSet
      assert(scanned.intersect(forbidden).isEmpty)
    }
  }

  test("manifest-list: a mutation's commit payload is O(touched) — " +
    "the root carries no file lists, untouched groups' manifests " +
    "carry forward by reference, and stats read manifest-recorded " +
    "sizes with zero per-file status calls") {
    val store = tmpDir("mflist")
    val fs = fsOf(store)
    // two docs into DIFFERENT buckets (nBuckets=4 spreads bands), fold
    // immediately so the bucket lists exist
    Dedup.nearDupFilterBatch(
      Seq((0L, textA), (1L, textB), (2L, textC)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 4, tailFoldFiles = 0)
    val st = new graft.functions.AdmissionManifestStore(store)
    val man1 = st.resolve(spark).get
    val buckets1 = st.allBuckets(spark, man1)
    assert(buckets1.size >= 2, s"fixture too narrow: ${buckets1.keys}")
    // the ROOT never serializes bucket file lists — its size is
    // O(split buckets + tail + groups), not O(store files)
    assert(!man1.serialize.contains("bucket "),
      "root manifest still carries bucket file lines")
    assert(man1.groups.nonEmpty)
    // mutate ONE bucket (compact it to a budget of 0 files forces a
    // rewrite of that address only)
    val target = buckets1.keys.min
    st.compactBuckets(spark, Seq(target), 0, 0L)
    val man2 = st.resolve(spark).get
    val touchedGid = man1.gid(target)
    assert(man2.groups(touchedGid) !== man1.groups(touchedGid),
      "touched group's manifest was not rewritten")
    (man1.groups.keySet intersect man2.groups.keySet - touchedGid)
      .foreach { g =>
        assert(man2.groups(g) === man1.groups(g),
          s"untouched group $g was rewritten: " +
            s"${man1.groups(g)} -> ${man2.groups(g)}")
      }
    // sizes are manifest-carried: delete a live data file BEHIND the
    // store's back and stats must still report the recorded bytes
    // (the r19 shape issued one getFileStatus per file and would
    // read 0 for the vanished file)
    val statsBefore = Dedup.admissionStoreStats(spark, store)
    assert(statsBefore.bucketBytes > 0L)
    val someFile = st.allBuckets(spark, man2).values.flatten.head
    assert(fs.delete(new org.apache.hadoop.fs.Path(store, someFile.path),
      false), s"fixture: could not delete ${someFile.path}")
    val statsAfter = Dedup.admissionStoreStats(spark, store)
    assert(statsAfter.bucketBytes === statsBefore.bucketBytes,
      "stats re-asked the filesystem for file sizes instead of " +
        "reading the manifest-recorded bytes")
  }

  test("a torn commit file (writer died mid-write) is skipped by " +
    "readers and healed by the next mutation's claim") {
    val store = tmpDir("mftorn")
    val fs = fsOf(store)
    Dedup.nearDupFilterBatch(
      Seq((0L, textA), (1L, textB)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2)
    val commitsDir = new org.apache.hadoop.fs.Path(store, "_commits")
    val maxV = fs.listStatus(commitsDir)
      .map(_.getPath.getName.toLong).max
    // fabricate the crash: a writer claimed version maxV+1 and died
    // mid-write, leaving unparseable debris
    val torn = new org.apache.hadoop.fs.Path(commitsDir,
      (maxV + 1).toString)
    val out = fs.create(torn, true)
    out.write("nbuckets".getBytes("UTF-8")); out.close()
    // readers skip the debris: the store still answers from maxV
    assert(Dedup.nearDupFilterBatch(
      Seq((10L, textA)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2).count() === 0L,
      "a torn commit blinded the reader to the live generation")
    // the next mutation claims maxV+1, healing the debris in place
    assert(Dedup.nearDupFilterBatch(
      Seq((11L, textC)).toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2).count() === 1L)
    val healedIn = fs.open(torn)
    val healed = try new String(healedIn.readAllBytes(), "UTF-8")
    finally healedIn.close()
    assert(graft.functions.AdmissionManifest.parse(healed).nonEmpty,
      s"the torn commit was not healed: <$healed>")
    // and the healed generation carries every admitted doc's keys
    assert(Dedup.nearDupFilterBatch(
      Seq((20L, textA), (21L, textB), (22L, textC))
        .toDF("doc_id", "text"),
      store, "doc_id", "text", nBuckets = 2).count() === 0L)
    // a commit whose split declaration is out of range (a depth past
    // the int bucket address space, or negative) never parses either:
    // readers skip it instead of mis-routing probe chains
    for (bad <- Seq("maxdepth 50", "maxdepth -1")) {
      val v = fs.listStatus(commitsDir).map(_.getPath.getName.toLong).max
      val body = s"nbuckets 2\nngroups 64\n$bad\n"
      assert(graft.functions.AdmissionManifest.parse(body).isEmpty)
      val dmg = fs.create(new org.apache.hadoop.fs.Path(commitsDir,
        (v + 1).toString), true)
      dmg.write(body.getBytes("UTF-8")); dmg.close()
      assert(Dedup.nearDupFilterBatch(
        Seq((30L, textA)).toDF("doc_id", "text"),
        store, "doc_id", "text", nBuckets = 2).count() === 0L,
        s"a damaged declaration <$bad> blinded the reader")
    }
  }

  test("embedding (SRP) admission rides the same manifest core") {
    val store = tmpDir("mfembed")
    def vecs(seed: Int): Seq[(Long, Array[Float])] =
      (0 until 4).map { i =>
        val r = new scala.util.Random(seed + i)
        (seed * 10L + i, Array.fill(8)(r.nextGaussian().toFloat))
      }
    val first = vecs(1)
    val s1 = graft.functions.Similarity.embedNearDupFilterBatch(
      first.toDF("vec_id", "embedding"), store, planes = 8, dims = 8,
      idCol = "vec_id", vecCol = "embedding", nBuckets = 2,
      tailFoldFiles = 0)
    // random gaussians CAN share an SRP bucket (within-batch
    // suppression) — what must hold is that at least one was admitted
    // and every exact duplicate is then suppressed
    assert(s1.count() >= 1L)
    assert(commitCount(store) > 0, "SRP admission did not use manifests")
    // exact re-submission under new ids is fully suppressed
    val dup = first.map { case (id, v) => (id + 100L, v) }
    val s2 = graft.functions.Similarity.embedNearDupFilterBatch(
      dup.toDF("vec_id", "embedding"), store, planes = 8, dims = 8,
      idCol = "vec_id", vecCol = "embedding", nBuckets = 2)
    assert(s2.count() === 0L, "SRP manifest store missed exact dups")
  }

  test("maintenance (remove/expire/policy-splits) beside a live " +
    "manifest-mode writer: kept keys never lost, serializable commits " +
    "absorb the contention") {
    val store = tmpDir("mfconc")
    val nDocs = 18
    def text(i: Int): String =
      s"subject$i alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i " +
        s"golf$i hotel$i india$i juliet$i kilo$i lima$i"
    val removeIds = (0 until nDocs by 3).map(_.toLong).toSet
    val admitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val maintTurns = new java.util.concurrent.atomic.AtomicInteger(0)
    val maintFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    val splitsDone = new java.util.concurrent.atomic.AtomicInteger(0)
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val maint = new Thread(() => {
      try {
        val rnd = new scala.util.Random(11)
        while (!writerDone.get()) {
          val seen = admitted.toArray(Array.empty[java.lang.Long])
            .map(_.longValue).filter(removeIds)
          if (seen.nonEmpty) {
            val r = seen(rnd.nextInt(seen.length))
            maintTurns.incrementAndGet()
            try {
              Dedup.nearDupRemove(Seq((r, text(r.toInt)))
                  .toDF("doc_id", "text"), store, "doc_id", "text",
                shingleN = 2, k = 4, bands = 2)
              Dedup.expireAdmitted(spark, store, 1L)
              splitsDone.addAndGet(Dedup.maintainAdmitted(spark, store,
                Dedup.AdmissionMaintenancePolicy(maxBucketBytes = 1L,
                  maxSplitsPerRun = 1)).split.size)
            } catch { case _: Throwable => maintFailures.incrementAndGet() }
          } else Thread.sleep(20)
        }
      } catch { case t: Throwable => maintErr.set(t) }
    })
    maint.start()
    try {
      for (i <- 0 until nDocs) {
        val s = Dedup.nearDupFilterBatch(
          Seq((i.toLong, text(i))).toDF("doc_id", "text"),
          store, "doc_id", "text", shingleN = 2, k = 4, bands = 2,
          tailFoldFiles = 0, autoCompactFiles = 1, admittedAt = 1000L + i)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(s === Set(i.toLong), s"distinct doc $i not admitted: $s")
        s.foreach(admitted.add(_))
      }
    } finally {
      writerDone.set(true)
      maint.join(120000)
    }
    assert(maintErr.get() === null, s"maintenance thread crashed " +
      s"outside a turn: ${maintErr.get()}")
    assert(maintTurns.get() > 0, "maintenance thread never ran a turn")
    if (splitsDone.get() == 0)
      splitsDone.addAndGet(Dedup.maintainAdmitted(spark, store,
        Dedup.AdmissionMaintenancePolicy(maxBucketBytes = 1L,
          maxSplitsPerRun = 2)).split.size)
    assert(splitsDone.get() > 0,
      "no split ever ran — the online-growth leg is vacuous")
    // takedowns complete in ONE call each (serializable commits —
    // there is no drain to re-run), then kept keys all survive
    removeIds.foreach { r =>
      Dedup.nearDupRemove(Seq((r, text(r.toInt))).toDF("doc_id", "text"),
        store, "doc_id", "text", shingleN = 2, k = 4, bands = 2)
      assert(Dedup.nearDupRemove(Seq((r, text(r.toInt)))
          .toDF("doc_id", "text"), store, "doc_id", "text",
        shingleN = 2, k = 4, bands = 2) === 0L,
        s"takedown of $r did not complete in one serializable commit")
    }
    val kept = (0 until nDocs).map(_.toLong).filterNot(removeIds)
    val keptProbe = Dedup.nearDupFilterBatch(
      kept.map(i => (1000L + i, text(i.toInt))).toDF("doc_id", "text"),
      store, "doc_id", "text", shingleN = 2, k = 4, bands = 2)
    assert(keptProbe.count() === 0L,
      "a kept doc's keys were lost under manifest-mode concurrency")
    val freedProbe = Dedup.nearDupFilterBatch(
      removeIds.toSeq.sorted.map(i => (2000L + i, text(i.toInt)))
        .toDF("doc_id", "text"),
      store, "doc_id", "text", shingleN = 2, k = 4, bands = 2)
    assert(freedProbe.count() === removeIds.size.toLong,
      "a removed doc's keys still suppress after the takedown")
  }
}
