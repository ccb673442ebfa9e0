package graft

/** Long-lived-session DISK residency (round 17, VERDICT r16 #4) — the
  * on-disk twin of CacheLifecycleSpec: a session composing the catalog
  * repeatedly must not accrete scratch stores, stream checkpoints, or
  * versioned-store version directories run over run. The mechanisms are
  * graft.ops.RunScope (a query's scratch dirs are deleted when the same
  * query is composed again, or with the micro-batch that made them) and
  * the serve-time retention vacuum on drained streams' versioned stores;
  * this spec is the assertion.
  */
class DiskLifecycleSpec extends SparkSpec {

  // one representative per scratch-owning shape: batch roundtrip store
  // (q167), layout maintenance store (q133), versioned time travel
  // (q122), streaming sink store + foreachBatch checkpoint (q63),
  // versioned CDC stream store (q112), slot-store stream below the fold
  // threshold (q188), memory-sink stream checkpoint (q61), and — round
  // 18, VERDICT r17 #5 — the SUPRA-threshold slot store (q212: its
  // staged shards, stream store, and checkpoint must be generational
  // like every other prefix, and its compact+slot file count is
  // threshold-bounded per pass, so re-runs stay flat)
  private val names = Seq(
    "q167_orc_roundtrip", "q133_zorder_maintain", "q122_time_travel",
    "q63_stream_upsert", "q112_stream_cdc_upsert",
    "q188_stream_bm25_serve", "q61_stream_window_agg",
    "q212_stream_bm25_compacted")

  private val tmp = new java.io.File(
    System.getProperty("java.io.tmpdir"))

  test("repeated catalog runs do not accrete scratch dirs: tmpdir " +
      "footprint after pass 2 equals pass 1 (generational TempDirs)") {
    val sf = "/root/testdata/sf0.001"
    def pass(): Unit =
      names.foreach { n =>
        SparkEntry.queries(n)(spark, sf)
          .write.mode("overwrite").format("noop").save()
      }
    // SCOPED counter (ADVICE r17 #5): the previous count of every
    // `graft_*` dir in the global tmpdir flakes under any concurrent
    // graft process (a parallel bench/verify session) creating its own
    // scratch dirs mid-pass. Scope to (a) the prefixes THIS spec's
    // queries acquire — learned mechanically by diffing the TempDirs
    // registry around pass 1 (new keys, or existing keys whose live dir
    // changed = re-acquired here) — and (b) dirs that did not pre-exist
    // the suite (leftovers of earlier suites in this JVM stay out).
    val preExisting = tmp.listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val reg0 = graft.ops.RunScope.snapshot
    pass()
    val reg1 = graft.ops.RunScope.snapshot
    val ownPrefixes = reg1.keySet.filter(k => !reg0.get(k).contains(reg1(k)))
    assert(ownPrefixes.nonEmpty, "the passes acquired no scratch prefixes")
    // the JVM tag closes the residual concurrency window (round 18): a
    // CONCURRENT graft session runs the same catalog, so its dirs carry
    // the same prefixes and would otherwise be counted the moment they
    // appear between two counts — prefix scoping alone only filters
    // differently-named scratch
    val jvmTag = graft.ops.RunScope.jvmTag
    def ownDirCount(): Int =
      tmp.listFiles().count(f => f.isDirectory &&
        !preExisting(f.getName) &&
        f.getName.contains(jvmTag) &&
        ownPrefixes.exists(f.getName.startsWith))
    val after1 = ownDirCount()
    pass()
    val after2 = ownDirCount()
    pass()
    val after3 = ownDirCount()
    // each prefix keeps exactly ONE live generation: pass 2 acquires a
    // fresh dir per prefix and deletes pass 1's, so the count is flat.
    // (<=, not ==, for the same reason as CacheLifecycleSpec: unrelated
    // exit hooks may remove dirs concurrently — only growth is a leak
    // signal.)
    assert(after2 <= after1 && after3 <= after2,
      s"scratch-dir footprint grew across passes: $after1 -> $after2 " +
        s"-> $after3 (a TempDirs site is missing the generational sweep)")
  }

  test("the supra-threshold slot store stays file-count bounded inside " +
      "one pass: compact + live tail, never one slot set per batch " +
      "(VERDICT r17 #5 — the disk-footprint twin of SlotStoreSpec's " +
      "fixture-scale bound, asserted on the real q212 leg)") {
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries("q212_stream_bm25_compacted")(spark, sf)
      .write.mode("overwrite").format("noop").save()
    // the live stream store is the single current generation of its prefix
    val store = graft.ops.RunScope.snapshot.get("graft_bm25_fold_stream")
    assert(store.isDefined, "no live q212 stream store found")
    // round 19: postings + moments share ONE kind-tagged slot root
    // (RetrievalOps.bm25DeltaRoot) — the bound now applies to it alone
    val root = graft.ops.RetrievalOps.bm25DeltaRoot(store.get.toString)
    // layout bound: one compact artifact + a <threshold live tail +
    // the replayed (excluded) b0 fixture slot — NOT one dir per batch
    val pieces = new java.io.File(root).listFiles()
      .count(_.getName.matches("[bc]\\d+"))
    assert(pieces <= 4,
      s"$root holds $pieces slot/compact dirs — compaction did not " +
        "bound the store's disk footprint")
  }

  test("a drained stream's versioned store is retention-vacuumed at the " +
      "serve handoff: at most keepLast=2 version dirs survive") {
    val sf = "/root/testdata/sf0.001"
    SparkEntry.queries("q112_stream_cdc_upsert")(spark, sf)
      .write.mode("overwrite").format("noop").save()
    // the live cdc store is the single current generation of its prefix
    val stores = tmp.listFiles().filter(f => f.isDirectory &&
      f.getName.startsWith("graft_cdc_store"))
    assert(stores.nonEmpty, "no live cdc store found")
    val newest = stores.maxBy(_.lastModified())
    val versions = newest.listFiles().count(_.getName.matches("v\\d+"))
    assert(versions <= 2,
      s"versioned store not vacuumed at serve: $versions version dirs " +
        s"under ${newest.getName}")
  }
}
