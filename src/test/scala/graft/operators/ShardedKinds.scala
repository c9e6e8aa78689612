package graft.operators

import graft.SparkTestBase
import graft.sources.{FpStore, Fs, Tables, Tombstones, Versioned}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One sharded index kind as the kind-parameterized specs drive it: the
  * composition, its resolved per-shard data table (vectors or codes), its
  * single-query probe (root, S, query, k), its EXACT probe (every cell,
  * every candidate re-ranked; PQ re-ranks against the given fp store) and
  * its ShardedHome growth loop (home, maxShardRows).
  */
final case class KindUnderTest(sharded: Sharded,
                               dataDir: String => String,
                               search: (String, Int, Array[Float], Int) => DataFrame,
                               exactSearch: (String, Int, Array[Float], Int, Option[String]) => DataFrame,
                               grow: (String, Long) => (String, Int)) {

  /** The encoded kind reshards from a full-precision store. */
  def encoded: Boolean = sharded.kind == IndexKind.Pq
}

/** Spec bodies shared by both sharded kinds: each case takes the kind as
  * an input, so IVF and PQ run the same assertions.
  */
trait ShardedKinds { self: SparkTestBase =>

  private lazy val kindEmb = Tables.load(spark, sf, "embeddings")

  lazy val ivfKind: KindUnderTest = KindUnderTest(ShardedIvf,
    IvfIndex.vectorsDir,
    (root, s, q, k) => ShardedIvf.search(spark, root, s, q, k),
    (root, s, q, k, _) => ShardedIvf.search(spark, root, s, q, k,
      nProbe = Int.MaxValue),
    (home, maxRows) => ShardedHome.reshardIfNeeded(spark, home, maxRows))

  // the encoded home's growth loop re-encodes from an fp store; every
  // shared case keeps it under budget, so the store is never read
  lazy val pqKind: KindUnderTest = KindUnderTest(ShardedPq,
    PqIndex.encodedDir,
    (root, s, q, k) => ShardedPq.search(spark, root, s, kindEmb, q, k),
    (root, s, q, k, fp) => ShardedPq.search(spark, root, s,
      FpStore.read(spark, fp.get), q, k, nProbe = Int.MaxValue,
      shortlist = 1 << 20),
    (home, maxRows) =>
      ShardedHome.reshardPqIfNeeded(spark, home, s"$home/fp", maxRows))

  def compactShardsCase(kind: KindUnderTest): Unit = {
    import spark.implicits._
    val emb = kindEmb
    val root = java.nio.file.Files.createTempDirectory("graft_shivf_cmp").toString + "/ix"
    val shards = 2
    val base = emb.filter(col("vec_id") < 300)
    kind.sharded.build(spark, base, root, shards, nCellsPerShard = 8)
    // three append batches fragment every touched cell directory
    for (lo <- Seq(300, 360, 420))
      kind.sharded.append(spark, root, shards,
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 60))
    val (qid, qv) = emb.filter(col("vec_id") === 1)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    val before = kind.search(root, shards, qv, 10)
      .filter(col("vec_id") =!= qid)
      .select("vec_id").as[Long].collect().toSeq
    // count the RESOLVED data table only (compaction publishes a new
    // Versioned dir and keeps the legacy one for in-flight readers)
    def partFiles(r: Int): Int = {
      def count(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(count).sum
        else if (f.getName.startsWith("part-")) 1 else 0
      count(new java.io.File(kind.dataDir(s"$root/shard=$r")))
    }
    val filesBefore = (0 until shards).map(partFiles).sum
    kind.sharded.compactShards(spark, root, shards)
    val filesAfter = (0 until shards).map(partFiles).sum
    assert(filesAfter < filesBefore,
      s"compaction must cut files: $filesBefore -> $filesAfter")
    val after = kind.search(root, shards, qv, 10)
      .filter(col("vec_id") =!= qid)
      .select("vec_id").as[Long].collect().toSeq
    assert(after == before, "compaction must not change probe results")
  }

  def liveRowsGrowthCase(kind: KindUnderTest): Unit = {
    val emb = kindEmb
    val home = java.nio.file.Files.createTempDirectory("graft_shhome_d").toString
    kind.sharded.build(spark, emb, s"$home/${ShardedHome.InitialGen}", 2,
      nCellsPerShard = 8)
    ShardedHome.publishServing(home, ShardedHome.InitialGen, 2)
    val n = emb.count()
    // budget sized so the FULL corpus is over the line but the post-delete
    // LIVE count is under it: counting deleted rows toward growth would
    // reshard; counting live rows must not
    kind.sharded.delete(spark, s"$home/gen-1", 2,
      emb.filter(col("vec_id") % 2 === 0).select("vec_id"))
    val live = emb.filter(col("vec_id") % 2 =!= 0).count()
    val budget = (live + n) / 4 // live/2 < budget < n/2 per shard mean
    assert(live <= budget * 2 && n > budget * 2, "premise: budget separates")
    assert(kind.grow(home, budget)
      == (s"$home/gen-1", 2),
      "tombstoned rows must not count toward growth (deletes thin shards)")
    assert(ShardedHome.serving(home).contains((s"$home/gen-1", 2)))
  }

  // ---------------------------------------------------------------------
  // Catch-up reshard (Sharded.reshardCatchUpBuild / reshardCatchUpReplay):
  // the same assertions on both kinds.
  // ---------------------------------------------------------------------

  /** One catch-up scenario's writers for `kind` under `tmp`: an encoded
    * kind's builds and appends also upsert the full-precision store its
    * reshard re-encodes from (the appender contract).
    */
  final class CatchUpRig(kind: KindUnderTest, tmp: String) {
    val fp: Option[String] = if (kind.encoded) Some(s"$tmp/fp") else None
    private val ix = kind.sharded.kind

    def build(root: String, corpus: DataFrame, shards: Int): Unit = {
      fp.foreach(FpStore.upsert(spark, _, corpus))
      kind.sharded.build(spark, corpus, root, shards, nCellsPerShard = 8)
    }

    def append(root: String, shards: Int, rows: DataFrame): Unit = {
      fp.foreach(FpStore.upsert(spark, _, rows))
      kind.sharded.append(spark, root, shards, rows)
    }

    def snapshot(root: String, shards: Int, newRoot: String, newShards: Int): Unit =
      kind.sharded.reshardCatchUpBuild(spark, root, shards, newRoot, newShards,
        nCellsPerShard = 8, fp = fp)

    def replay(root: String, shards: Int, newRoot: String, newShards: Int): Long =
      kind.sharded.reshardCatchUpReplay(spark, root, shards, newRoot, newShards, fp)

    /** The logical / physical ids of a composition. */
    def members(root: String, shards: Int): DataFrame =
      (0 until shards).map(r => ix.logical(spark, s"$root/shard=$r").select("vec_id"))
        .reduce(_ unionAll _)

    def physical(root: String, shards: Int): DataFrame =
      (0 until shards).map(r => ix.physical(spark, s"$root/shard=$r").select("vec_id"))
        .reduce(_ unionAll _)

    /** Every id a composition's tombstone sidecars hold. */
    def tombstones(root: String, shards: Int): Set[Long] = {
      import spark.implicits._
      (0 until shards).flatMap(r => Tombstones.read(spark, s"$root/shard=$r")
        .map(_.as[Long].collect().toSet)).foldLeft(Set.empty[Long])(_ ++ _)
    }

    /** Rows of `root`'s shards above each shard's recorded mark. */
    def aboveMarks(root: String, marks: Sharded.CatchUp): Long =
      marks.shards.toSeq.map { case (r, m) =>
        val shardPath = s"$root/shard=$r"
        assert(Fs.everyParquetFileHas(spark, ix.dataDir(shardPath), IndexKind.SeqColumn),
          s"shard $r of $root holds a data file without seq")
        ix.journal(spark, shardPath).filter(col(IndexKind.SeqColumn) > m.appendSeq).count()
      }.sum
  }

  private def rig(kind: KindUnderTest, prefix: String): (CatchUpRig, String) = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    (new CatchUpRig(kind, tmp), tmp)
  }

  /** `n` corpus rows re-keyed at `base` — ids no build holds. */
  private def tranche(n: Int, base: Long): DataFrame =
    kindEmb.limit(n).select((col("vec_id") + base).as("vec_id"), col("label"),
      col("embedding"))

  /** The snapshot watermarks recorded at a catch-up target root. */
  def catchUpMarks(newRoot: String): Sharded.CatchUp = {
    val file = s"$newRoot/catchup.META"
    Sharded.parseCatchUp(file, Versioned.metaBackend.readString(file)
      .getOrElse(fail(s"no $file")))
  }

  def catchUpCarriesDeltaCase(kind: KindUnderTest): Unit = {
    import spark.implicits._
    val (cu, tmp) = rig(kind, "graft_sh_cu")
    val root = s"$tmp/ix"
    val newRoot = s"$tmp/ix5"
    val corpus = kindEmb.select((col("vec_id") * 2).as("vec_id"), col("label"),
      col("embedding"))
    val window = kindEmb.select((col("vec_id") * 2 + 1).as("vec_id"), col("label"),
      transform(col("embedding"), x => x + lit(1.0f))
        .cast("array<float>").as("embedding"))
    val nCorpus = corpus.count()
    val nWindow = window.count()
    cu.build(root, corpus, 3)
    // PHASE 1 — snapshot rebuild at S'=5 holds NO lease on the old root
    cu.snapshot(root, 3, newRoot, 5)
    // ... so an append lands DURING the reshard — under the blocking
    // verb this interleaving is impossible (reshard holds the old lease
    // for read+build+GC); here it is the protocol's defining scenario
    cu.append(root, 3, window)
    // PHASE 2 — the replay finds exactly the landed delta and routes it
    // through the idempotent append
    assert(cu.replay(root, 3, newRoot, 5) == nWindow,
      "replay must carry exactly the appends the snapshot missed")
    // replay is idempotent: nothing further to carry
    assert(cu.replay(root, 3, newRoot, 5) == 0L)
    // the caught-up artifact is disjoint-total over corpus+window ...
    val ids = cu.members(newRoot, 5)
    assert(ids.count() == nCorpus + nWindow &&
      ids.distinct().count() == nCorpus + nWindow)
    // ... and full probe over it is exact INCLUDING the replayed window
    val probe = window.orderBy("vec_id")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    val top = kind.exactSearch(newRoot, 5, probe._2, 1, cu.fp)
      .select("vec_id", "sim").as[(Long, Double)].head()
    assert(top._2 == 1.0, s"replayed vector must be served: $top")
  }

  def catchUpSeqJournalCase(kind: KindUnderTest): Unit = {
    val (cu, tmp) = rig(kind, "graft_sh_seq")
    val root = s"$tmp/ix"
    cu.build(root, kindEmb, 3)
    val window = tranche(30, 700000L)
    // SEQ PATH: the snapshot records per-shard watermarks, the window
    // append stamps its rows above them, and the replay serves the delta
    // from those rows
    val newRoot = s"$tmp/ix2"
    cu.snapshot(root, 3, newRoot, 2)
    val marks = catchUpMarks(newRoot)
    assert(marks.shards.keySet == Set(0, 1, 2),
      "the snapshot build must record per-shard watermarks")
    cu.append(root, 3, window)
    assert(cu.aboveMarks(root, marks) == 30,
      "the window append's rows must carry seqs above the recorded watermarks")
    assert(cu.replay(root, 3, newRoot, 2) == 30)
    // idempotence through the ADVANCED watermark, not the anti-join: a
    // second replay reads an empty delta from the seq-stamped rows
    assert(cu.aboveMarks(root, catchUpMarks(newRoot)) == 0,
      "the replay must advance every watermark past the window")
    assert(cu.replay(root, 3, newRoot, 2) == 0L)
    assert(cu.members(newRoot, 2).filter(col("vec_id") >= 700000L).count() == 30)
    // MID-WINDOW COMPACT: the rewrite keeps every row's seq, so the replay
    // stays delta-shaped and still carries the window
    val root2 = s"$tmp/jx"
    cu.build(root2, kindEmb, 3)
    val newRoot2 = s"$tmp/jx2"
    cu.snapshot(root2, 3, newRoot2, 2)
    val marks2 = catchUpMarks(newRoot2)
    cu.append(root2, 3, window)
    kind.sharded.compactShards(spark, root2, 3)
    assert(cu.aboveMarks(root2, marks2) == 30,
      "compact must keep the window rows' seqs")
    assert(cu.replay(root2, 3, newRoot2, 2) == 30,
      "across a compact the seq-stamped rows must still serve the delta")
    assert(cu.members(newRoot2, 2).filter(col("vec_id") >= 700000L).count() == 30)
  }

  def catchUpTombstoneCompactCase(kind: KindUnderTest): Unit = {
    val (cu, tmp) = rig(kind, "graft_sh_dc")
    val root = s"$tmp/ix"
    val newRoot = s"$tmp/ix2"
    cu.build(root, kindEmb, 3)
    cu.snapshot(root, 3, newRoot, 2)
    // window: a takedown lands, THEN the documented maintenance policy
    // runs its tombstone-fraction sweep — the per-shard compact applies
    // the deletes PHYSICALLY on the old root and clears both the sidecar
    // and the delete journal; before the generation marker the replay's
    // forwarding read the now-empty sidecars and the new generation
    // silently resurrected the ids
    val delIds = kindEmb.filter(col("vec_id") % 9 === 4).select("vec_id")
    val nDel = delIds.count()
    cu.append(root, 3, tranche(12, 800000L))
    kind.sharded.delete(spark, root, 3, delIds)
    assert(kind.sharded.compactShardsIfDeleted(spark, root, 3,
      maxDeletedFraction = 0.01) > 0,
      "premise: the mid-window sweep must physically compact at least one shard")
    (0 until 3).foreach { r =>
      assert(Tombstones.read(spark, s"$root/shard=$r").forall(_.isEmpty),
        s"premise: shard $r sidecar must be cleared")
    }
    cu.replay(root, 3, newRoot, 2)
    val member = cu.members(newRoot, 2)
    assert(member.filter(col("vec_id") % 9 === 4 &&
      col("vec_id") < 800000L).count() == 0,
      "a mid-window compact must not resurrect the window's deletes")
    assert(member.filter(col("vec_id") >= 800000L).count() == 12,
      "the window's appends must still be carried")
    assert(member.count() == kindEmb.count() - nDel + 12,
      "the new generation must serve exactly the old root's logical view")
  }

  def catchUpWindowDeletesOnlyCase(kind: KindUnderTest): Unit = {
    import spark.implicits._
    val (cu, tmp) = rig(kind, "graft_sh_ps")
    val root = s"$tmp/ix"
    val newRoot = s"$tmp/ix2"
    cu.build(root, kindEmb, 3)
    // PRE-snapshot delete: still pending (no compact) when the snapshot
    // reads the logical view — the ids are physically ABSENT from the new
    // root, so forwarding their tombstones would plant stale sidecar rows
    // that hide a legitimate post-cutover re-add
    val preDel = kindEmb.filter(col("vec_id") % 13 === 5).select("vec_id")
    kind.sharded.delete(spark, root, 3, preDel)
    cu.snapshot(root, 3, newRoot, 2)
    // WINDOW delete: must forward (the snapshot captured these ids)
    val winDel = kindEmb.filter(col("vec_id") % 13 === 6).select("vec_id")
    kind.sharded.delete(spark, root, 3, winDel)
    cu.replay(root, 3, newRoot, 2)
    val newTombs = cu.tombstones(newRoot, 2)
    val preSet = preDel.as[Long].collect().toSet
    val winSet = winDel.as[Long].collect().toSet
    assert(newTombs.intersect(preSet).isEmpty,
      "pre-snapshot tombstones are already physically applied in the new " +
        "root — forwarding them would break the post-cutover re-add contract")
    assert(winSet.subsetOf(newTombs),
      "window deletes must be forwarded as live tombstones")
    // and the re-add contract actually holds: a post-cutover append of a
    // pre-snapshot-deleted id LANDS and is served (the snapshot acted as
    // its compact)
    val victim = preSet.head
    cu.append(newRoot, 2, kindEmb.filter(col("vec_id") === victim))
    assert(cu.members(newRoot, 2).filter(col("vec_id") === victim).count() == 1,
      "post-cutover re-add of a pre-snapshot-deleted id must land")
  }

  def catchUpNoQerrCase(kind: KindUnderTest): Unit = {
    val (cu, tmp) = rig(kind, "graft_sh_w0")
    val root = s"$tmp/ix"
    val newRoot = s"$tmp/ix2"
    cu.build(root, kindEmb, 3)
    // simulate a legacy artifact whose shards carry no qerr series: the
    // first window append then takes seq = 0, and a watermark recorded as
    // 0 would filter it out with `seq > 0` — the append silently
    // vanishing from the replay (the build's own seq-0 rows sit above the
    // -1 watermark too; the idempotent append absorbs them)
    (0 until 3).foreach { r =>
      Versioned.metaBackend.deleteRecursively(s"$root/shard=$r/qerr")
      Versioned.metaBackend.deleteRecursively(s"$root/shard=$r/qerr.BASELINE")
    }
    cu.snapshot(root, 3, newRoot, 2)
    cu.append(root, 3, tranche(9, 900000L))
    assert(cu.replay(root, 3, newRoot, 2) == 9,
      "the seq-0 window append must be replayed, not dropped by an " +
        "off-by-one watermark")
    assert(cu.members(newRoot, 2).filter(col("vec_id") >= 900000L).count() == 9)
  }

  def catchUpCrashedAppendCase(kind: KindUnderTest): Unit = {
    val (cu, tmp) = rig(kind, "graft_sh_cr")
    val root = s"$tmp/ix"
    val newRoot = s"$tmp/ix2"
    cu.build(root, kindEmb, 3)
    cu.snapshot(root, 3, newRoot, 2)
    val window = tranche(6, 950000L)
    // the crash: each shard's slice lands in its data table stamped with
    // the seq the append took, but the qerr row after it never lands
    val ix = kind.sharded.kind
    val tagged = window.withColumn("shard", Sharded.shardCol(3))
    (0 until 3).foreach { r =>
      val shardPath = s"$root/shard=$r"
      val slice = tagged.filter(col("shard") === r).drop("shard")
      if (!slice.isEmpty)
        ix.rows(spark, slice, ix.loadModel(spark, shardPath))
          .withColumn(IndexKind.SeqColumn,
            lit(graft.sources.VectorIndexStore.nextSeq(spark, shardPath)))
          .write.mode("append").partitionBy("cell").parquet(ix.dataDir(shardPath))
    }
    // ... then the retry: the rows are physically present, so it writes
    // and logs nothing
    cu.append(root, 3, window)
    assert(cu.replay(root, 3, newRoot, 2) == 6,
      "the crashed batch sits above the watermark and must be carried once")
    val phys = cu.physical(newRoot, 2).filter(col("vec_id") >= 950000L)
    assert(phys.count() == 6 && phys.distinct().count() == 6,
      "the crashed rows must not become duplicate physical rows")
  }

  def catchUpForwardsWindowDeletesCase(kind: KindUnderTest): Unit = {
    val (cu, tmp) = rig(kind, "graft_sh_fw")
    val oldRoot = s"$tmp/old"
    val newRoot = s"$tmp/new"
    cu.build(oldRoot, kindEmb, 3)
    // phase 1: snapshot rebuild, no old-root lease — ingest still flowing
    cu.snapshot(oldRoot, 3, newRoot, 2)
    // during the window: one append AND one delete land on the OLD root
    val window = kindEmb.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000000).as("vec_id"), col("label"), col("embedding"))
    cu.append(oldRoot, 3, window)
    kind.sharded.delete(spark, oldRoot, 3,
      kindEmb.filter(col("vec_id") % 9 === 4).select("vec_id"))
    // phase 2: the replay must carry BOTH classes to the new root
    assert(cu.replay(oldRoot, 3, newRoot, 2) == window.count(),
      "the replay delta is exactly the appends that landed during the window")
    val ids = cu.members(newRoot, 2)
    assert(ids.filter(col("vec_id") >= 1000000).count() == window.count(),
      "window appends must be present in the new artifact")
    assert(ids.filter(col("vec_id") % 9 === 4 && col("vec_id") < 1000000).count() == 0,
      "window deletes must be forwarded — the new root hides them via its own sidecars")
  }

  def catchUpMidWindowSweepCase(kind: KindUnderTest): Unit = {
    import spark.implicits._
    val (cu, tmp) = rig(kind, "graft_sh_sw")
    val root = s"$tmp/ix"
    val newRoot = s"$tmp/ix2"
    cu.build(root, kindEmb, 3)
    // pre-snapshot delete, still pending: the snapshot (logical
    // membership) excludes it — and the replay must NOT forward its
    // tombstone (the id is already physically absent from the new root)
    val preDel = kindEmb.filter(col("vec_id") % 13 === 5).select("vec_id")
    kind.sharded.delete(spark, root, 3, preDel)
    // PHASE 1 — no lease on the old root
    cu.snapshot(root, 3, newRoot, 2)
    // window: an append lands, a takedown lands, and the documented
    // maintenance sweep applies it physically and clears the sidecars
    // (the resurrection schedule)
    cu.append(root, 3, tranche(10, 880000L))
    kind.sharded.delete(spark, root, 3,
      kindEmb.filter(col("vec_id") % 13 === 6).select("vec_id"))
    assert(kind.sharded.compactShardsIfDeleted(spark, root, 3,
      maxDeletedFraction = 0.001) > 0,
      "premise: the mid-window sweep must physically compact")
    // PHASE 2 — replay reconciles both axes
    assert(cu.replay(root, 3, newRoot, 2) == 10,
      "the replay must carry exactly the window's appends")
    assert(cu.replay(root, 3, newRoot, 2) == 0L,
      "a repeated replay must serve an empty delta")
    val member = cu.members(newRoot, 2)
    assert(member.filter(col("vec_id") >= 880000L).count() == 10,
      "window appends must be served by the new generation")
    assert(member.filter(col("vec_id") < 880000L &&
      col("vec_id") % 13 === 6).count() == 0,
      "a mid-window compact must not resurrect the window's deletes")
    assert(member.filter(col("vec_id") < 880000L &&
      col("vec_id") % 13 === 5).count() == 0,
      "pre-snapshot deletes stay deleted (excluded by the snapshot)")
    // ... and no stale tombstone blocks a post-cutover re-add of a
    // pre-snapshot-deleted id (the snapshot acted as its compact)
    val preSet = preDel.as[Long].collect().toSet
    assert(cu.tombstones(newRoot, 2).intersect(preSet).isEmpty,
      "pre-snapshot tombstones must not be forwarded as stale sidecar rows")
    val victim = preSet.head
    cu.append(newRoot, 2, kindEmb.filter(col("vec_id") === victim))
    assert(cu.members(newRoot, 2).filter(col("vec_id") === victim).count() == 1,
      "post-cutover re-add of a pre-snapshot-deleted id must land")
  }

  def catchUpAcrossCompactCase(kind: KindUnderTest): Unit = {
    import spark.implicits._
    val (cu, tmp) = rig(kind, "graft_sh_ac")
    val root = s"$tmp/ix"
    val newRoot = s"$tmp/ix2"
    cu.build(root, kindEmb, 3)
    cu.snapshot(root, 3, newRoot, 2)
    val marks = catchUpMarks(newRoot)
    // window: an append, a full compact of every shard, another append —
    // the compact rewrites the first batch's rows into the cell files the
    // snapshot rows share
    def shifted(n: Int, base: Long, by: Float): DataFrame =
      tranche(n, base).withColumn("embedding",
        transform(col("embedding"), x => x + lit(by)).cast("array<float>"))
    val first = shifted(14, 600000L, 1.0f)
    val second = shifted(9, 610000L, 2.0f)
    cu.append(root, 3, first)
    kind.sharded.compactShards(spark, root, 3)
    cu.append(root, 3, second)
    assert(cu.aboveMarks(root, marks) == 23,
      "both batches must sit above the watermarks, the compacted one included")
    assert(cu.replay(root, 3, newRoot, 2) == 23,
      "the replay must carry both batches, before and after the compact")
    assert(cu.replay(root, 3, newRoot, 2) == 0L)
    val ids = cu.members(newRoot, 2)
    assert(ids.count() == kindEmb.count() + 23 &&
      ids.distinct().count() == kindEmb.count() + 23)
    for (batch <- Seq(first, second)) {
      val probe = batch.orderBy("vec_id")
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
      val top = kind.exactSearch(newRoot, 2, probe._2, 1, cu.fp)
        .select("vec_id", "sim").as[(Long, Double)].head()
      assert(top == (probe._1, 1.0), s"replayed vector ${probe._1} must be served: $top")
    }
  }

  def catchUpAcrossRetrainCase(kind: KindUnderTest): Unit = {
    val (cu, tmp) = rig(kind, "graft_sh_rt")
    val root = s"$tmp/ix"
    val newRoot = s"$tmp/ix2"
    cu.build(root, kindEmb, 3)
    cu.snapshot(root, 3, newRoot, 2)
    val marks = catchUpMarks(newRoot)
    cu.append(root, 3, tranche(20, 650000L))
    // a retrain inside the window (factor 0: any appended error is drift)
    // rewrites each appended-to shard stamped with its new baseline seq
    val retrained = kind.sharded match {
      case ShardedIvf => ShardedIvf.retrainIfNeeded(spark, root, 3,
        factor = 0.0, recallFloor = 0.0)
      case ShardedPq => ShardedPq.retrainIfNeeded(spark, root, 3,
        FpStore.read(spark, cu.fp.get), factor = 0.0, recallFloor = 0.0)
    }
    assert(retrained > 0, "premise: the window must span a retrain")
    assert(cu.aboveMarks(root, marks) > 20,
      "premise: a retrained shard's whole corpus sits above its watermark")
    assert(cu.replay(root, 3, newRoot, 2) == 20,
      "the replay must add exactly the window's rows: the retrained " +
        "corpus the new root already holds is absorbed by the idempotent append")
    assert(cu.replay(root, 3, newRoot, 2) == 0L)
    val ids = cu.members(newRoot, 2)
    assert(ids.count() == kindEmb.count() + 20 &&
      ids.distinct().count() == kindEmb.count() + 20)
  }

  def catchUpLegacyLayoutCase(kind: KindUnderTest): Unit = {
    val (cu, tmp) = rig(kind, "graft_sh_lg")
    val root = s"$tmp/ix"
    val newRoot = s"$tmp/ix2"
    cu.build(root, kindEmb, 3)
    // every shard's data table as a build before seq stamping wrote it
    (0 until 3).foreach { r =>
      val dir = kind.dataDir(s"$root/shard=$r")
      spark.read.parquet(dir).drop(IndexKind.SeqColumn)
        .write.partitionBy("cell").parquet(s"$dir.legacy")
      Versioned.metaBackend.deleteRecursively(dir)
      assert(new java.io.File(s"$dir.legacy").renameTo(new java.io.File(dir)))
    }
    cu.snapshot(root, 3, newRoot, 2)
    assert(catchUpMarks(newRoot).shards.keySet == Set(0, 1, 2),
      "premise: the snapshot recorded every shard's marks")
    // window: an append (its files DO carry seq, so a touched shard's
    // table now mixes pre-seq and seq-stamped files) and a delete
    val window = tranche(15, 500000L)
    val delIds = kindEmb.filter(col("vec_id") % 7 === 3).select("vec_id")
    cu.append(root, 3, window)
    kind.sharded.delete(spark, root, 3, delIds)
    (0 until 3).foreach { r =>
      assert(!Fs.everyParquetFileHas(spark, kind.dataDir(s"$root/shard=$r"), IndexKind.SeqColumn),
        s"shard $r holds pre-seq files: judged from the files, it has no journal")
    }
    assert(cu.replay(root, 3, newRoot, 2) == 15,
      "the anti-join fallback must carry exactly the window's appends")
    val ids = cu.members(newRoot, 2)
    assert(ids.filter(col("vec_id") >= 500000L).count() == 15)
    assert(ids.filter(col("vec_id") % 7 === 3 && col("vec_id") < 500000L).count() == 0,
      "the reverse delta must hide the window's deletes")
    assert(ids.count() == kindEmb.count() - delIds.count() + 15,
      "the new generation must serve exactly the old root's logical view")
    assert(cu.replay(root, 3, newRoot, 2) == 0L)
  }

  def reshardFreshnessCase(kind: KindUnderTest): Unit = {
    import spark.implicits._
    val home = java.nio.file.Files.createTempDirectory("graft_sh_fresh").toString
    val fp = if (kind.encoded) Some(s"$home/fp") else None
    val gen1 = s"$home/${ShardedHome.InitialGen}"
    fp.foreach(FpStore.upsert(spark, _, kindEmb))
    kind.sharded.build(spark, kindEmb, gen1, 2, nCellsPerShard = 8)
    ShardedHome.publishServing(home, ShardedHome.InitialGen, 2)
    // probe the serving generation: every shard's model is now cached
    val (qid, qv) = kindEmb.filter(col("vec_id") === 1)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].head()
    assert(kind.exactSearch(gen1, 2, qv, 10, fp).select("vec_id").as[Long]
      .collect().contains(qid))
    (0 until 2).foreach(r => ServedModel.assertCurrent(spark, kind.sharded.kind, s"$gen1/shard=$r"))
    val batch = tranche(30, 500000L)
    fp.foreach(FpStore.upsert(spark, _, batch))
    kind.sharded.append(spark, gen1, 2, batch)
    val n = kindEmb.count() + 30
    val (root, shards) = kind.grow(home, math.max(1L, (n + 2) / 3))
    assert(root == s"$home/gen-2" && shards == 3, s"premise: the home grew, got ($root, $shards)")
    val (bid, bv) = batch.orderBy("vec_id").select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].head()
    assert(kind.exactSearch(root, shards, bv, 10, fp).select("vec_id").as[Long]
      .collect().contains(bid), "a probe of the new generation must find an appended vector")
    (0 until shards).foreach(r =>
      ServedModel.assertCurrent(spark, kind.sharded.kind, s"$root/shard=$r"))
  }
}
