package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorOps

/** The COMPACTION contract of the persisted IVF-PQ index — the faiss
  * merge verb completing train/add: folding delta lists back into the
  * base lists must (a) be lossless (compact-then-search row-identical
  * to the chain's union search — the chain law extended one verb),
  * (b) restore the single-scan plan (ONE pruned lists scan, no delta
  * scans), (c) be a pure partition rewrite — zero Lloyd iterations,
  * zero re-encode — and (d) be idempotent: re-compacting with nothing
  * to fold rewrites nothing. Plus the empty-batch admission rule
  * compaction shares its absent-table semantics with.
  */
class IvfPqCompactSpec extends AnyFunSuite {
  private lazy val spark = SparkT.spark
  private val dir = SparkT.Sf0001

  test("compact-then-search == add-add-then-search (the chain law, one verb further)") {
    val viaCompact = VectorOps.ivfPqIndexCompact(spark, dir)
      .collect().map(_.toSeq).toSet
    val viaChain = VectorOps.ivfPqIndexAddChain(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(viaCompact.nonEmpty)
    assert(viaCompact === viaChain)
    // both arriving batches survived the fold into base
    val batches = viaCompact.map(_.last).collect { case i: Int => i }
    assert(batches.contains(1) || batches.contains(2),
      s"no added vector surfaced post-compact: $batches")
  }

  test("post-compact search plans ONE lists scan, still DPP-pruned; deltas are gone") {
    VectorOps.ivfPqIndexCompact(spark, dir).collect()
    val base = VectorOps.indexBase(dir, "compact")
    for (d <- Seq("lists_delta_b1", "lists_delta_b2", "lists_compacting"))
      assert(!new java.io.File(s"$base/$d").exists(), s"$d survived compaction")
    val plan = VectorOps.searchStored(spark, dir, base, Nil)
      .queryExecution.executedPlan.toString
    // one pruned scan may print its dynamicpruning expression several
    // times (PartitionFilters + the subquery node), so count SCANS by
    // their Location lines, and pruning by presence
    val listScans = plan.linesIterator
      .count(l => l.contains("Location") && l.contains("/lists"))
    assert(listScans === 1,
      s"expected exactly one lists scan, found $listScans:\n$plan")
    assert(plan.contains("dynamicpruning"), "the lone lists scan lost DPP")
    assert(!plan.contains("lists_delta"), "a delta scan survived in the plan")
  }

  test("compaction composes ZERO Lloyd iterations (pure partition rewrite)") {
    val base = VectorOps.indexBase(dir, "compact")
    val baseCorpus = VectorOps.embDistributed(spark, dir)
      .filter(col("vec_id") % VectorOps.AddModulus =!= VectorOps.AddResidue &&
        col("vec_id") % VectorOps.AddModulus =!= VectorOps.AddResidue2)
    VectorOps.ivfPqPersistFrames(spark, baseCorpus, baseCorpus, base)
    VectorOps.ivfPqAdd(spark, dir, base)
    VectorOps.LloydMeter.reset()
    VectorOps.ivfPqCompact(spark, base, Seq("lists_delta"))
    assert(VectorOps.LloydMeter.iterations.get() === 0L,
      "compaction re-trained a quantizer")
  }

  test("re-compacting with nothing to fold is a NO-OP: same result, lists untouched") {
    VectorOps.ivfPqIndexCompact(spark, dir).collect()
    val base = VectorOps.indexBase(dir, "compact")
    def listing() = {
      val d = new java.io.File(s"$base/lists")
      d.listFiles().flatMap { c =>
        if (c.isDirectory) c.listFiles().map(f => (f.getPath, f.lastModified))
        else Array((c.getPath, c.lastModified))
      }.toSet
    }
    val r1 = VectorOps.searchStored(spark, dir, base, Nil)
      .collect().map(_.toSeq).toSet
    val files1 = listing()
    VectorOps.ivfPqCompact(spark, base, Seq("lists_delta_b1", "lists_delta_b2"))
    val r2 = VectorOps.searchStored(spark, dir, base, Nil)
      .collect().map(_.toSeq).toSet
    assert(r1 === r2)
    assert(listing() === files1, "a no-op compaction rewrote the lists table")
  }

  test("ADD resumes after a compact: add-compact-add-search == encode-all (continuous ingest)") {
    // the production cadence — adds land all day, compaction folds them
    // nightly, adds RESUME against the same stored quantizers: hold out
    // three batches, fold the first two, admit the third post-compact
    val base = VectorOps.indexBase(dir, "addaftercompact")
    val res3 = 5L
    def residueOf(c: org.apache.spark.sql.Column) = c % VectorOps.AddModulus
    val corpus = VectorOps.embDistributed(spark, dir)
    val baseCorpus = corpus.filter(
      !residueOf(col("vec_id")).isin(VectorOps.AddResidue, VectorOps.AddResidue2, res3))
    VectorOps.ivfPqPersistFrames(spark, baseCorpus, baseCorpus, base)
    def batch(r: Long) = corpus.filter(residueOf(col("vec_id")) === r)
    VectorOps.ivfPqAddBatch(spark, dir, base, batch(VectorOps.AddResidue), "lists_delta_b1")
    VectorOps.ivfPqAddBatch(spark, dir, base, batch(VectorOps.AddResidue2), "lists_delta_b2")
    VectorOps.ivfPqCompact(spark, base, Seq("lists_delta_b1", "lists_delta_b2"))
    VectorOps.LloydMeter.reset()
    VectorOps.ivfPqAddBatch(spark, dir, base, batch(res3), "lists_delta_b3")
    assert(VectorOps.LloydMeter.iterations.get() === 0L,
      "the post-compact add re-trained a quantizer")
    val got = VectorOps.searchStored(spark, dir, base, Seq("lists_delta_b3"))
      .collect().map(_.toSeq).toSet

    val oneShot = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_oneshot3").toString
    VectorOps.ivfPqPersistFrames(spark, baseCorpus, corpus, oneShot)
    val ref = VectorOps.annIvfPqFromIndex(spark, dir, oneShot)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    assert(got === ref)
  }

  // --- crash-window self-healing (the manifest swap protocol) ---

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Fresh base index + two committed delta batches under `tag`;
    * returns (base, the reference search rows over base ∪ deltas) —
    * what every healed state must still answer.
    */
  private def buildWithDeltas(tag: String): (String, Set[Seq[Any]]) = {
    val base = VectorOps.indexBase(dir, tag)
    rm(new java.io.File(base))
    val corpus = VectorOps.embDistributed(spark, dir)
    val baseCorpus = corpus.filter(
      !(col("vec_id") % VectorOps.AddModulus)
        .isin(VectorOps.AddResidue, VectorOps.AddResidue2))
    VectorOps.ivfPqPersistFrames(spark, baseCorpus, baseCorpus, base)
    def batch(r: Long) =
      corpus.filter(col("vec_id") % VectorOps.AddModulus === r)
    VectorOps.ivfPqAddBatch(spark, dir, base,
      batch(VectorOps.AddResidue), "lists_delta_b1")
    VectorOps.ivfPqAddBatch(spark, dir, base,
      batch(VectorOps.AddResidue2), "lists_delta_b2")
    val ref = VectorOps.searchStored(spark, dir, base,
        Seq("lists_delta_b1", "lists_delta_b2"))
      .collect().map(_.toSeq).toSet
    (base, ref)
  }

  /** The merge write of ivfPqCompact, stopped at the chosen point —
    * the tests drive the protocol's crash windows from outside.
    */
  private def mergeOnly(base: String): Unit = {
    def listsAt(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("sub"), col("code"),
        col("cell").cast("int").as("cell"))
    Seq("lists", "lists_delta_b1", "lists_delta_b2")
      .map(s => listsAt(s"$base/$s"))
      .reduce(_ unionByName _)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$base/lists_compacting")
  }

  private def writeManifest(base: String): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(base, "_compaction_manifest.json"),
      """{"folded":["lists_delta_b1","lists_delta_b2"]}"""
        .getBytes("UTF-8"))

  test("crash right after the commit point: the next SEARCH completes the swap") {
    val (base, ref) = buildWithDeltas("healcommit")
    mergeOnly(base)
    writeManifest(base)
    // "crash" — deltas still committed, lists still present; a search
    // must heal to the merged table, never double-count the deltas
    val healed = VectorOps.searchStored(spark, dir, base, Nil)
      .collect().map(_.toSeq).toSet
    assert(healed === ref)
    for (d <- Seq("lists_delta_b1", "lists_delta_b2", "lists_compacting",
        "_compaction_manifest.json"))
      assert(!new java.io.File(s"$base/$d").exists(), s"$d survived the heal")
  }

  test("crash mid-swap (markers retired, lists deleted): search completes the rename") {
    val (base, ref) = buildWithDeltas("healswap")
    mergeOnly(base)
    writeManifest(base)
    for (d <- Seq("lists_delta_b1", "lists_delta_b2"))
      assert(new java.io.File(s"$base/$d/_SUCCESS").delete())
    rm(new java.io.File(s"$base/lists"))
    val healed = VectorOps.searchStored(spark, dir, base, Nil)
      .collect().map(_.toSeq).toSet
    assert(healed === ref)
    assert(!new java.io.File(s"$base/_compaction_manifest.json").exists())
  }

  test("readers RACING the swap window: concurrent heals of a committed compaction converge; search stays green") {
    // the interleaving the crash tests cannot drive: the compaction has
    // reached its commit point (manifest on disk) and MANY readers
    // arrive in the commit-to-retire window at once — every search
    // heals before trusting the layout, so all of them race the same
    // swap completion. The law: any interleaving converges to the one
    // committed end state (rename-based swap + tolerant deletes +
    // the per-index monitor), no contender throws, and the search
    // answers the chain rows throughout.
    val (base, ref) = buildWithDeltas("healrace")
    mergeOnly(base)
    writeManifest(base)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val racers = (1 to 8).map(_ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = VectorOps.healCompaction(spark, base)
        }))
      racers.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    for (d <- Seq("lists_delta_b1", "lists_delta_b2", "lists_compacting",
        "lists_retired", "_compaction_manifest.json"))
      assert(!new java.io.File(s"$base/$d").exists(),
        s"$d survived the concurrent heal race")
    val got = VectorOps.searchStored(spark, dir, base, Nil)
      .collect().map(_.toSeq).toSet
    assert(got === ref)
  }

  test("writer-vs-writer: an ADD admitted inside the commit-to-retire window survives the swap") {
    // the window the reader-race test cannot drive: the compaction has
    // committed its manifest but not yet retired the folded deltas,
    // and a NEW add batch lands right then. The law: completion folds
    // exactly the manifest's named deltas — the in-window batch is
    // untouched, stays committed, and the post-swap search over
    // lists ∪ new-delta equals the no-window lifecycle (encode-all)
    val base = VectorOps.indexBase(dir, "addinswap")
    rm(new java.io.File(base))
    val res3 = 5L
    def residueOf(c: org.apache.spark.sql.Column) = c % VectorOps.AddModulus
    val corpus = VectorOps.embDistributed(spark, dir)
    val baseCorpus = corpus.filter(!residueOf(col("vec_id"))
      .isin(VectorOps.AddResidue, VectorOps.AddResidue2, res3))
    VectorOps.ivfPqPersistFrames(spark, baseCorpus, baseCorpus, base)
    def batch(r: Long) = corpus.filter(residueOf(col("vec_id")) === r)
    VectorOps.ivfPqAddBatch(spark, dir, base,
      batch(VectorOps.AddResidue), "lists_delta_b1")
    VectorOps.ivfPqAddBatch(spark, dir, base,
      batch(VectorOps.AddResidue2), "lists_delta_b2")
    mergeOnly(base)
    writeManifest(base) // commit point reached, completion NOT yet run
    VectorOps.ivfPqAddBatch(spark, dir, base, batch(res3), "lists_delta_b3")
    VectorOps.healCompaction(spark, base) // any reader completes the swap
    assert(new java.io.File(s"$base/lists_delta_b3/_SUCCESS").exists(),
      "the in-window add batch was retired by a fold that never named it")
    for (d <- Seq("lists_delta_b1", "lists_delta_b2",
        "_compaction_manifest.json"))
      assert(!new java.io.File(s"$base/$d").exists(), s"$d survived the swap")
    val got = VectorOps.searchStored(spark, dir, base, Seq("lists_delta_b3"))
      .collect().map(_.toSeq).toSet
    val oneShot = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_addinswap").toString
    VectorOps.ivfPqPersistFrames(spark, baseCorpus, corpus, oneShot)
    val ref = VectorOps.annIvfPqFromIndex(spark, dir, oneShot)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    assert(got === ref)
  }

  test("writer-vs-writer: two compactors racing fold exactly once and converge") {
    // the per-index writer lock serializes whole compactions: the race
    // loser starts after the winner's swap, reads the folded deltas as
    // absent, and is the documented no-op — never a second fold of the
    // same rows, never a torn layout
    val (base, ref) = buildWithDeltas("compactrace")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val racers = (1 to 2).map(_ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = VectorOps.ivfPqCompact(spark, base,
            Seq("lists_delta_b1", "lists_delta_b2"))
        }))
      racers.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    for (d <- Seq("lists_delta_b1", "lists_delta_b2", "lists_compacting",
        "lists_retired", "_compaction_manifest.json"))
      assert(!new java.io.File(s"$base/$d").exists(),
        s"$d survived the compactor race")
    val lists = spark.read.parquet(s"$base/lists").select("vec_id", "sub")
    assert(lists.count() === lists.distinct().count(),
      "racing compactors duplicated (vec_id, sub) code rows")
    val got = VectorOps.searchStored(spark, dir, base, Nil)
      .collect().map(_.toSeq).toSet
    assert(got === ref)
  }

  test("torn merge (uncommitted lists_compacting) rolls back; re-compact converges") {
    val (base, ref) = buildWithDeltas("healtorn")
    mergeOnly(base)
    // tear the merged table: its _SUCCESS never landed
    assert(new java.io.File(s"$base/lists_compacting/_SUCCESS").delete())
    writeManifest(base)
    // old state must answer unchanged through the rollback...
    val rolledBack = VectorOps.searchStored(spark, dir, base,
        Seq("lists_delta_b1", "lists_delta_b2"))
      .collect().map(_.toSeq).toSet
    assert(rolledBack === ref)
    assert(!new java.io.File(s"$base/lists_compacting").exists(),
      "torn merge not rolled back")
    // ...and a retried compaction completes the verb
    VectorOps.ivfPqCompact(spark, base,
      Seq("lists_delta_b1", "lists_delta_b2"))
    val compacted = VectorOps.searchStored(spark, dir, base, Nil)
      .collect().map(_.toSeq).toSet
    assert(compacted === ref)
  }

  test("an EMPTY add batch is an absent table, and search treats it as a no-op") {
    val base = VectorOps.indexBase(dir, "emptyadd")
    val corpus = VectorOps.embDistributed(spark, dir)
    VectorOps.ivfPqPersistFrames(spark, corpus, corpus, base)
    val baseline = VectorOps.annIvfPqFromIndex(spark, dir, base)
      .collect().map(_.toSeq).toSet
    // first admit a REAL batch, then re-admit it empty: overwrite
    // semantics must leave "nothing admitted", not the stale rows
    VectorOps.ivfPqAddBatch(spark, dir, base,
      corpus.filter(col("vec_id") % VectorOps.AddModulus === VectorOps.AddResidue),
      "lists_delta")
    VectorOps.ivfPqAddBatch(spark, dir, base,
      corpus.filter(col("vec_id") < -1), "lists_delta")
    assert(!new java.io.File(s"$base/lists_delta").exists(),
      "empty re-admission left the prior batch on disk")
    val withEmpty = VectorOps.annIvfPqFromIndexWithDelta(spark, dir, base)
      .collect().map(_.toSeq).toSet
    assert(withEmpty === baseline,
      "searching past an empty admission changed the result (or threw)")
  }

  test("cross-process writer fence: a FOREIGN lease fails every maintenance verb loudly; release restores them") {
    // the enforcement of SCALE.md's single-maintenance-writer contract:
    // a second PROCESS (simulated by a lease stamped with a foreign
    // writer id) must be refused by add/delete/compact instead of
    // co-writing the swap — and our own verbs must leave no lease
    // behind, so sequential processes hand the index over cleanly
    val base = VectorOps.indexBase(dir, "lease")
    rm(new java.io.File(base))
    val corpus = VectorOps.embDistributed(spark, dir)
    val baseCorpus = corpus.filter(
      col("vec_id") % VectorOps.AddModulus =!= VectorOps.AddResidue)
    VectorOps.ivfPqPersistFrames(spark, baseCorpus, baseCorpus, base)
    val lease = new java.io.File(s"$base/_writer_lease.json")
    assert(!lease.exists,
      "a completed verb left the writer lease behind")
    def batch = corpus.filter(
      col("vec_id") % VectorOps.AddModulus === VectorOps.AddResidue)
    java.nio.file.Files.writeString(lease.toPath,
      """{"writer":"9999@elsewhere/1"}""" + "\n")
    def refused(f: => Unit): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("9999@elsewhere/1") &&
          e.getMessage.contains(VectorOps.writerId),
        s"refusal names neither holder nor self: ${e.getMessage}")
    }
    refused(VectorOps.ivfPqAddBatch(spark, dir, base, batch, "lists_delta_b1"))
    refused(VectorOps.ivfPqDelete(spark, base,
      batch.select(col("vec_id"))))
    refused(VectorOps.ivfPqCompact(spark, base, Seq("lists_delta_b1")))
    assert(!new java.io.File(s"$base/lists_delta_b1").exists,
      "a refused add landed rows anyway")
    // operator recovery: confirm the holder is dead, delete the lease
    assert(lease.delete())
    VectorOps.ivfPqAddBatch(spark, dir, base, batch, "lists_delta_b1")
    VectorOps.ivfPqCompact(spark, base, Seq("lists_delta_b1"))
    assert(!lease.exists,
      "the composed add+compact left the writer lease behind")
    val lists = spark.read.parquet(s"$base/lists").select("vec_id", "sub")
    assert(lists.count() === corpus.count() * VectorOps.PqSubspaces)
  }

  test("one lock entry per index location: every spelling of one base shares heal, compact and lease") {
    val base = VectorOps.indexBase(dir, "locks")
    val locks = VectorOps.locksOf(spark, base)
    for (alias <- Seq(base + "/", base + "/."))
      assert(VectorOps.locksOf(spark, alias) eq locks,
        s"$alias keys a second lock entry")
    // a heal through another spelling waits on the heal monitor held
    // through this one
    val healed = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      VectorOps.healCompaction(spark, base + "/")
      healed.countDown()
    })
    locks.heal.synchronized {
      t.start()
      assert(!healed.await(1, java.util.concurrent.TimeUnit.SECONDS),
        "a heal through base/ ran while base's heal monitor was held")
    }
    assert(healed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    t.join()
  }

  test("a REBUILD takes the writer lease: a foreign lease + stale stamp refuses before touching the index") {
    val tag = "rebuildlease"
    val base = VectorOps.indexBase(dir, tag)
    rm(new java.io.File(base))
    val corpus = VectorOps.embBase(spark, dir)
    VectorOps.ensureIndex(spark, dir, tag, corpus)
    VectorOps.ivfPqAdd(spark, dir, base) // a delta the rebuild would sweep
    val lease = new java.io.File(s"$base/_writer_lease.json")
    java.nio.file.Files.writeString(lease.toPath,
      """{"writer":"9999@elsewhere/1"}""" + "\n")
    // the skip path takes no lease: serving goes on beside a live writer
    VectorOps.LloydMeter.reset()
    assert(VectorOps.ensureIndex(spark, dir, tag, corpus) === base)
    assert(VectorOps.LloydMeter.iterations.get() === 0L)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "_corpus_stamp.json"),
      """{"path":"swapped","mtime":0,"len":0}""")
    def snapshot(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(base)
      val files = java.nio.file.Files.walk(root).iterator()
      var m = Map.empty[String, (Long, Long)]
      while (files.hasNext) {
        val f = files.next().toFile
        m += root.relativize(f.toPath).toString -> ((f.length, f.lastModified))
      }
      m
    }
    val before = snapshot()
    val e = intercept[IllegalStateException](
      VectorOps.ensureIndex(spark, dir, tag, corpus))
    assert(e.getMessage.contains("9999@elsewhere/1") &&
        e.getMessage.contains(VectorOps.writerId),
      s"refusal names neither holder nor self: ${e.getMessage}")
    val after = snapshot()
    val touched = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(touched.isEmpty, "a refused rebuild touched the index: " +
      touched.toSeq.sorted.mkString(", "))
    // the holder is confirmed dead: the rebuild runs and hands the
    // lease back
    assert(lease.delete())
    VectorOps.LloydMeter.reset()
    VectorOps.ensureIndex(spark, dir, tag, corpus)
    assert(VectorOps.LloydMeter.iterations.get() > 0L)
    assert(!lease.exists, "the rebuild left the writer lease behind")
    assert(!new java.io.File(s"$base/lists_delta").exists,
      "the rebuild kept a stale delta")
  }
}
