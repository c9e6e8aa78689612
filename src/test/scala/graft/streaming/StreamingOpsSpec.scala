package graft.streaming

import graft.SparkTestBase
import java.nio.file.Files

class StreamingOpsSpec extends SparkTestBase {

  test("streaming dedup equals batch distinct on bounded input") {
    val streamed = StreamingOps.runToMemory(spark,
      StreamingOps.dedupKeys(StreamingOps.readEventsStream(spark, sf)),
      "spec_dedup", "append")
    val batch = graft.sources.Tables.load(spark, sf, "events")
      .select("user_id", "event_type").distinct()
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty)
  }

  test("tumbling window agg equals batch group-by on bucketed time") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.runToMemory(spark,
      StreamingOps.tumblingAgg(StreamingOps.readEventsStream(spark, sf)),
      "spec_tumbling", "complete")
    val batch = graft.sources.Tables.load(spark, sf, "events")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("foreachBatch upsert sink keeps first arrival per key") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert").toString
    val target = s"$dir/target"
    val ckpt1 = s"$dir/ckpt1"
    val ckpt2 = s"$dir/ckpt2"
    // first load writes both keys
    StreamingOps.upsertSink(spark,
      StreamingOps.dedupKeys(StreamingOps.readEventsStream(spark, sf)),
      "user_id", target, ckpt1)
    val n1 = spark.read.parquet(target).count()
    // second identical load must be a no-op (all keys exist)
    StreamingOps.upsertSink(spark,
      StreamingOps.dedupKeys(StreamingOps.readEventsStream(spark, sf)),
      "user_id", target, ckpt2)
    val n2 = spark.read.parquet(target).count()
    assert(n1 > 0 && n1 == n2)
    // exactly one row per user_id
    val dups = spark.read.parquet(target).groupBy("user_id").count()
      .filter($"count" > 1).count()
    assert(dups == 0)
  }

  test("binary arrival ingest dedups in-batch and is idempotent across loads") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_arrival").toString
    val src = s"$dir/src"
    val target = s"$dir/store"
    // two distinct payloads; b.txt and c.txt are duplicates after
    // whitespace normalization — min doc_key (b_txt) must survive
    Files.createDirectories(java.nio.file.Paths.get(src))
    Files.write(java.nio.file.Paths.get(s"$src/a.txt"), "hello world".getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/b.txt"), "dup   text".getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/c.txt"), " dup text ".getBytes)
    StreamingOps.binaryArrivalIngest(spark, src, "*.txt", target, s"$dir/ckpt1")
    val first = spark.read.parquet(target)
    assert(first.count() == 2)
    assert(first.select("doc_key").as[String].collect().sorted.sameElements(
      Array("a_txt", "b_txt")))
    // re-delivery with a fresh checkpoint: store-side anti-join must keep
    // the run a no-op (first-arrival semantics across loads)
    StreamingOps.binaryArrivalIngest(spark, src, "*.txt", target, s"$dir/ckpt2")
    assert(spark.read.parquet(target).count() == 2)
    // a new arrival alongside the old files is picked up
    Files.write(java.nio.file.Paths.get(s"$src/d.txt"), "fresh arrival".getBytes)
    StreamingOps.binaryArrivalIngest(spark, src, "*.txt", target, s"$dir/ckpt3")
    assert(spark.read.parquet(target).count() == 3)
  }

  test("restart from the SAME checkpoint is exactly-once: no re-read, no dupes, no gaps") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_restart").toString
    val src = s"$dir/src"
    val target = s"$dir/store"
    val ckpt = s"$dir/ckpt" // ONE checkpoint across both runs — the restart
    Files.createDirectories(java.nio.file.Paths.get(src))
    // tranche A
    Files.write(java.nio.file.Paths.get(s"$src/a.txt"), "alpha text".getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/b.txt"), "beta  text".getBytes)
    StreamingOps.binaryArrivalIngest(spark, src, "*.txt", target, ckpt)
    val run1Files = new java.io.File(target).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName).toSet
    assert(spark.read.parquet(target).count() == 2)
    // tranche B arrives after the stop: one fresh doc + one whose CONTENT
    // duplicates tranche A (normalizes equal to b.txt)
    Files.write(java.nio.file.Paths.get(s"$src/c.txt"), "gamma text".getBytes)
    Files.write(java.nio.file.Paths.get(s"$src/z.txt"), " beta text ".getBytes)
    StreamingOps.binaryArrivalIngest(spark, src, "*.txt", target, ckpt)
    // file-level exactly-once: the parquet files APPENDED by run 2 hold
    // only tranche-B survivors — had the restarted source re-read tranche
    // A, its rows would re-appear here (the store anti-join would drop
    // them by hash, but a re-read would also re-emit them into the batch;
    // this asserts the seen-files log itself did its job)
    val run2Files = new java.io.File(target).listFiles()
      .filter(f => f.getName.startsWith("part-") && !run1Files(f.getName))
      .map(f => s"$target/${f.getName}")
    val appended = spark.read.parquet(run2Files: _*)
      .select("doc_key").as[String].collect().sorted
    assert(appended.sameElements(Array("c_txt")),
      s"run 2 appended ${appended.mkString(",")} — expected only the fresh tranche-B survivor")
    // store-level: no dupes (z dropped by first-arrival), no gaps
    val store = spark.read.parquet(target)
    assert(store.count() == 3)
    assert(store.select("text_hash").distinct().count() == 3)
    assert(store.select("doc_key").as[String].collect().sorted.sameElements(
      Array("a_txt", "b_txt", "c_txt")))
  }

  test("maintained ingest keeps ALL derived stores equal to fresh builds over the streamed corpus") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_maintained").toString
    val src = s"$dir/src"
    val target = s"$dir/store"
    val ckpt = s"$dir/ckpt"
    val idx = s"$dir/idx"
    // two tranches across a stop/restart — the s14 lifecycle at spec scale
    StreamingOps.writeDocFiles(spark, sf, src, 0, 25)
    StreamingOps.arrivalIngestMaintained(spark, src, "*.txt", target, ckpt, idx)
    StreamingOps.writeDocFiles(spark, sf, src, 25, 1000)
    StreamingOps.arrivalIngestMaintained(spark, src, "*.txt", target, ckpt, idx)

    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 1000).select("doc_id", "text")
    def eq(a: DataFrame, b: DataFrame): Boolean =
      a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty

    // postings: maintained index == one-shot build over the same corpus
    val fresh = Files.createTempDirectory("graft_maintained_fresh").toString
    graft.sources.PostingStore.build(spark, docs, s"$fresh/postings")
    assert(eq(graft.sources.PostingStore.tableAt(spark, s"$idx/postings", "postings"),
      graft.sources.PostingStore.tableAt(spark, s"$fresh/postings", "postings")))
    assert(eq(graft.sources.PostingStore.derivedAt(spark, s"$idx/postings", "df"),
      graft.sources.PostingStore.derivedAt(spark, s"$fresh/postings", "df")))
    assert(eq(graft.sources.PostingStore.derivedAt(spark, s"$idx/postings", "stats"),
      graft.sources.PostingStore.derivedAt(spark, s"$fresh/postings", "stats")))
    // shingles + minhash: same freshness guarantee
    assert(eq(graft.sources.ShingleStore.tableAt(spark, s"$idx/shingles", "rows"),
      graft.sources.ShingleStore.shingleRowsOf(docs)))
    assert(eq(graft.sources.MinhashStore.tableAt(spark, s"$idx/minhash", "bands"),
      graft.operators.NearDup.minhashBuckets(spark, docs)))
    // and redelivering everything after the fact changes nothing
    graft.sources.PostingStore.append(spark, s"$idx/postings", docs)
    assert(eq(graft.sources.PostingStore.tableAt(spark, s"$idx/postings", "postings"),
      graft.sources.PostingStore.tableAt(spark, s"$fresh/postings", "postings")))
  }

  test("embed ingest maintains the sparse store and IVF index equal to one-shot builds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_embed_ingest").toString
    val src = s"$dir/src"
    val store = s"$dir/sparse"
    val ivf = s"$dir/ivf"
    val ckpt = s"$dir/ckpt"
    StreamingOps.writeDocFiles(spark, sf, src, 0, 25)
    StreamingOps.arrivalEmbedIngest(spark, src, "*.txt", store, ckpt, ivf)
    StreamingOps.writeDocFiles(spark, sf, src, 25, 1000)
    StreamingOps.arrivalEmbedIngest(spark, src, "*.txt", store, ckpt, ivf)

    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 1000).select("doc_id", "text")
    val nDocs = docs.count()
    // sparse store == a one-shot recomputation of the nonzero bucket counts
    val expected = docs.as[(Long, String)].mapPartitions { it =>
      val emb = new graft.operators.HashingEmbedder()
      it.flatMap { case (id, tx) =>
        emb.rawBucketCounts(tx).iterator.zipWithIndex
          .filter(_._1 != 0).map { case (c, i) => (id, i, c) }
      }
    }.toDF("doc_id", "idx", "cnt")
    val stored = spark.read.parquet(store)
    assert(stored.count() == expected.count())
    assert(stored.except(expected).isEmpty && expected.except(stored).isEmpty)
    // IVF index holds every doc once, and its stored cells equal an
    // assignment of the corpus with the SAME persisted model
    val model = graft.operators.IvfIndex.loadModel(spark, ivf)
    val vecs = graft.operators.IvfIndex.loadVectors(spark, ivf)
    assert(vecs.count() == nDocs)
    assert(vecs.select("vec_id").distinct().count() == nDocs)
    val reassigned = vecs.select(col("vec_id"), col("label"), col("embedding"))
      .transform(v => graft.operators.IvfIndex.assign(spark, v, model))
      .select(col("vec_id"), col("cell").as("expected_cell"))
    assert(vecs.select("vec_id", "cell").join(reassigned, "vec_id")
      .filter(col("cell") =!= col("expected_cell")).count() == 0)
    // redelivery is a no-op for both tables
    StreamingOps.arrivalEmbedIngest(spark, src, "*.txt", store, s"$dir/ckpt2", ivf)
    assert(spark.read.parquet(store).count() == stored.count())
    assert(graft.operators.IvfIndex.loadVectors(spark, ivf).count() == nDocs)
  }

  test("semantic-pair maintenance: incremental equals one-shot, subset of exact, redelivery no-op") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_sempairs").toString
    val src = s"$dir/src"
    val store = s"$dir/sparse"
    val ivf = s"$dir/ivf"
    val pairs = s"$dir/sempairs"
    // two tranches through the sink, pairs maintained incrementally
    StreamingOps.writeDocFiles(spark, sf, src, 0, 25)
    StreamingOps.arrivalEmbedIngest(spark, src, "*.txt", store, s"$dir/ckpt",
      ivf, Some(pairs))
    StreamingOps.writeDocFiles(spark, sf, src, 25, 1000)
    StreamingOps.arrivalEmbedIngest(spark, src, "*.txt", store, s"$dir/ckpt",
      ivf, Some(pairs))
    val stored = spark.read.parquet(pairs)
    // canonical ordering and no duplicate pairs
    assert(stored.filter(col("id_a") >= col("id_b")).count() == 0)
    assert(stored.distinct().count() == stored.count())
    // subset of the from-scratch exact tau-threshold pair set over the
    // same sparse rows (cells only propose; the exact predicate disposes)
    val nz = spark.read.parquet(store)
    val l2 = nz.groupBy("doc_id")
      .agg(sqrt(sum(col("cnt").cast("long") * col("cnt"))).as("l2"))
    val exact = nz.select(col("doc_id").as("id_a"), col("idx"), col("cnt").as("ca"))
      .join(nz.select(col("doc_id").as("id_b"), col("idx"), col("cnt").as("cb")),
        Seq("idx"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("ca").cast("long") * col("cb")).as("dp"))
      .join(l2.select(col("doc_id").as("id_a"), col("l2").as("la")), "id_a")
      .join(l2.select(col("doc_id").as("id_b"), col("l2").as("lb")), "id_b")
      .filter(col("dp") / (col("la") * col("lb")) > StreamingOps.SemPairTau)
      .select("id_a", "id_b")
    assert(stored.join(exact, Seq("id_a", "id_b"), "left_anti").count() == 0)
    // a one-shot maintenance pass over the full corpus finds nothing new
    // beyond the incremental store (same candidates, same predicate)
    val oneShot = s"$dir/sempairs_oneshot"
    StreamingOps.maintainSemPairs(spark, ivf, store, oneShot,
      nz.select(col("doc_id")).distinct())
    val full = spark.read.parquet(oneShot)
    assert(full.except(stored).isEmpty,
      "one-shot maintenance found pairs the incremental store missed")
    // redelivery is a no-op
    val before = stored.count()
    StreamingOps.maintainSemPairs(spark, ivf, store, pairs,
      nz.select(col("doc_id")).distinct())
    assert(spark.read.parquet(pairs).count() == before)
  }

  test("streamed drift triggers the sink's retrain: pointer-published geometry, baseline reset") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_embed_drift").toString
    val src = s"$dir/src"
    val store = s"$dir/sparse"
    val ivf = s"$dir/ivf"
    StreamingOps.writeDocFiles(spark, sf, src, 0, 100)
    StreamingOps.arrivalEmbedIngest(spark, src, "*.txt", store, s"$dir/ckpt", ivf)
    val staleModel = graft.operators.IvfIndex.loadModel(spark, ivf)
    assert(graft.sources.Versioned.readPointer(ivf, "model").isEmpty)
    // drifted tranche: radically longer documents — hashing-embedder
    // norms (and so assignment distortion) explode past the 2x factor
    (0 until 24).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"$src/doc_${9000 + i}%05d.txt"),
        s"drifttoken$i shifted corpus regime " * 400)
    }
    StreamingOps.arrivalEmbedIngest(spark, src, "*.txt", store, s"$dir/ckpt", ivf)
    // the sink consumed the watermark: retrained geometry published
    // behind the Versioned pointer, assignment self-consistent, and the
    // reset baseline absorbed the new regime (driftFactor: no
    // post-baseline appends left)
    assert(graft.sources.Versioned.readPointer(ivf, "model").isDefined,
      "drift did not trigger the sink's retrain")
    val newModel = graft.operators.IvfIndex.loadModel(spark, ivf)
    assert(newModel.centroids.map(_.toSeq).toSeq != staleModel.centroids.map(_.toSeq).toSeq)
    val vecs = graft.operators.IvfIndex.loadVectors(spark, ivf)
    assert(vecs.count() == 124)
    val reassigned = vecs.select(col("vec_id"), col("label"), col("embedding"))
      .transform(v => graft.operators.IvfIndex.assign(spark, v, newModel))
      .select(col("vec_id"), col("cell").as("expected_cell"))
    assert(vecs.select("vec_id", "cell").join(reassigned, "vec_id")
      .filter(col("cell") =!= col("expected_cell")).count() == 0)
    assert(graft.sources.VectorIndexStore.driftFactor(spark, ivf).isEmpty)
  }

  test("sharded sink follows the serving pointer across an external reshard; redelivery stays a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_shsink_resh").toString
    val src = s"$dir/src"
    val home = s"$dir/home"
    // two batches: build gen-1 (100 docs keep every shard above the
    // trainer's >= nCells sample floor), then append to it
    StreamingOps.writeDocFiles(spark, sf, src, 0, 100)
    StreamingOps.arrivalShardedIngest(spark, src, "*.txt", home, 3, s"$dir/ckpt")
    StreamingOps.writeDocFiles(spark, sf, src, 100, 150)
    StreamingOps.arrivalShardedIngest(spark, src, "*.txt", home, 3, s"$dir/ckpt")
    val (d1, s1) = graft.operators.ShardedHome.serving(home).get
    assert(d1 == s"$home/gen-1" && s1 == 3)
    def countAt(d: String, sh: Int) = (0 until sh).map(r =>
      graft.operators.IvfIndex.loadVectors(spark, s"$d/shard=$r").count()).sum
    val n = countAt(d1, s1)
    // EXTERNAL reshard between batches (the round-15 composition hole:
    // the sink used to hold (root, S) fixed forever — loud append
    // failure on the GC'd root, silently shrunken rebuild after restart)
    val (d2, s2) = graft.operators.ShardedHome.reshardIfNeeded(spark, home,
      maxShardRows = math.max(1L, (n + 3) / 4))
    assert(d2 == s"$home/gen-2" && s2 == 4 && new java.io.File(d1).exists(),
      "keep-previous GC: the retired generation survives its own flip")
    // the sink's next batch resolves the pointer and appends to gen-2
    StreamingOps.writeDocFiles(spark, sf, src, 150, 200)
    StreamingOps.arrivalShardedIngest(spark, src, "*.txt", home, 3, s"$dir/ckpt")
    assert(graft.operators.ShardedHome.serving(home).contains((d2, 4)),
      "a routine batch must not move the pointer")
    val expected = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt").load(src).count()
    assert(countAt(d2, s2) == expected,
      "the post-reshard batch must land in the serving generation")
    // restart-after-reshard worst case: a fresh checkpoint re-delivers
    // every file; pointer-first recovery enters the append branch and
    // the per-shard anti-joins absorb it (NOT a shrunken rebuild)
    StreamingOps.arrivalShardedIngest(spark, src, "*.txt", home, 3, s"$dir/ckpt2")
    assert(graft.operators.ShardedHome.serving(home).contains((d2, 4)))
    assert(countAt(d2, s2) == expected, "redelivery must be a no-op")
  }

  test("CDC sink: same-batch takedown wins, deletes route to owning shards, replay converges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cdcsink").toString
    val src = s"$dir/src"
    val home = s"$dir/home"
    StreamingOps.writeDocFiles(spark, sf, src, 0, 100)
    StreamingOps.arrivalCdcShardedIngest(spark, src, "*.txt", home, 3, s"$dir/ckpt")
    // batch 2: appends 100..120 + takedowns {ids < 100 with id % 9 == 2}
    // + id 119 upserted AND deleted in the SAME batch
    StreamingOps.writeDocFiles(spark, sf, src, 100, 120)
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val ids = docs.filter(col("doc_id") < 120).select("doc_id")
      .as[Long].collect().toSet
    val takedowns = ids.filter(i => i < 100 && i % 9 == 2)
    StreamingOps.writeDelFiles(src, (takedowns + 119L).toSeq.sorted)
    StreamingOps.arrivalCdcShardedIngest(spark, src, "*.txt", home, 3, s"$dir/ckpt")
    val (d1, s1) = graft.operators.ShardedHome.serving(home).get
    def membership: Set[Long] = (0 until s1).map(r =>
      graft.operators.IvfIndex.loadVectors(spark, s"$d1/shard=$r")
        .select("vec_id")).reduce(_ unionAll _).as[Long].collect().toSet
    val expected = ids -- takedowns - 119L
    assert(membership == expected,
      "the serving logical view must be the corpus minus the takedown feed")
    // sidecars hold only fed takedown ids, disjointly. Subset, not
    // equality: the sink's per-batch retrain sweep may have retrained a
    // drifted shard, which applies that shard's tombstones PHYSICALLY
    // and clears its sidecar — membership above is the real contract;
    // exact hash-routing identity is VectorDeleteSpec's assertion.
    val sides = (0 until s1).map(r =>
      graft.sources.Tombstones.read(spark, s"$d1/shard=$r")
        .map(_.as[Long].collect().toSet).getOrElse(Set.empty[Long]))
    assert(sides.reduce(_ ++ _).subsetOf(takedowns + 119L),
      "a shard sidecar may only hold fed takedown ids")
    assert(sides.map(_.size).sum == sides.reduce(_ ++ _).size,
      "no takedown id may be tombstoned on more than one shard")
    // fresh-checkpoint full replay: one batch, appends-then-deletes —
    // converges to the same state (physical presence absorbs the
    // appends, anti-joins absorb the re-tombstoned ids)
    StreamingOps.arrivalCdcShardedIngest(spark, src, "*.txt", home, 3, s"$dir/ckpt2")
    assert(membership == expected, "CDC replay must converge")
  }

  test("CDC-log sink: the ordered feed re-adds across AND without compacts; fresh-home replay converges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cdclog").toString
    val log = s"$dir/log"
    val home = s"$dir/home"
    val home2 = s"$dir/home2"
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val texts = docs.filter(col("doc_id") < 120)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val ids = texts.keySet
    val takedowns = ids.filter(i => i < 100 && i % 9 == 2)
    assert(takedowns.size >= 2, "fixture premise")
    val preReadd = takedowns.min   // re-added with NO compact anywhere
    val postReadd = takedowns.max  // re-added after an external compact
    def adds(is: Iterable[Long]) = is.toSeq.sorted.map(i => ("add", i, texts(i)))
    def dels(is: Iterable[Long]) = is.toSeq.sorted.map(i => ("del", i, null: String))
    graft.sources.CdcLog.append(spark, log, adds(ids.filter(_ < 100)))
    StreamingOps.cdcLogShardedIngest(spark, log, home, 3, s"$dir/ckpt")
    // same segment: adds 100..120, THEN the takedowns — incl. 119 whose
    // del seq is after its add seq (ordered delete-wins)
    graft.sources.CdcLog.append(spark, log,
      adds(ids.filter(_ >= 100)) ++ dels(takedowns + 119L))
    StreamingOps.cdcLogShardedIngest(spark, log, home, 3, s"$dir/ckpt")
    val (d1, s1) = graft.operators.ShardedHome.serving(home).get
    def membership(d: String, sh: Int): Set[Long] = (0 until sh).map(r =>
      graft.operators.IvfIndex.loadVectors(spark, s"$d/shard=$r")
        .select("vec_id")).reduce(_ unionAll _).as[Long].collect().toSet
    val expected1 = ids -- takedowns - 119L
    assert(membership(d1, s1) == expected1 && !membership(d1, s1).contains(119L))
    // PRE-compact re-add: the marker sink's absorbed case — here the sink
    // compacts the owning shard (ordered feed proves the add supersedes)
    graft.sources.CdcLog.append(spark, log, adds(Seq(preReadd)))
    StreamingOps.cdcLogShardedIngest(spark, log, home, 3, s"$dir/ckpt")
    assert(membership(d1, s1) == expected1 + preReadd,
      "an ordered re-add must land without any external compact")
    // external compact, then the POST-compact re-add (s19's chain)
    graft.operators.ShardedIvf.compactShards(spark, d1, s1)
    graft.sources.CdcLog.append(spark, log, adds(Seq(postReadd)))
    StreamingOps.cdcLogShardedIngest(spark, log, home, 3, s"$dir/ckpt")
    val expectedF = expected1 + preReadd + postReadd
    assert(membership(d1, s1) == expectedF)
    // fresh checkpoint into a FRESH home: the whole history as ONE
    // collapsed batch, across both compacts — the boundary the marker
    // feed documents, closed by seq order
    StreamingOps.cdcLogShardedIngest(spark, log, home2, 3, s"$dir/ckpt3")
    val (d2, s2) = graft.operators.ShardedHome.serving(home2).get
    assert(membership(d2, s2) == expectedF,
      "a replay-from-zero must land on the incremental final state")
    // and into the SAME home: byte-equal membership
    StreamingOps.cdcLogShardedIngest(spark, log, home, 3, s"$dir/ckpt2")
    assert(membership(d1, s1) == expectedF, "same-home replay must be a no-op")
  }

  test("encoded CDC sink: deletes hide codes; growth re-encodes from the fp store scoped to membership") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pqcdc").toString
    val src = s"$dir/src"
    val home = s"$dir/home"
    val fp = s"$dir/fp"
    StreamingOps.writeDocFiles(spark, sf, src, 0, 100)
    StreamingOps.arrivalShardedPqIngest(spark, src, "*.txt", home, 3,
      s"$dir/ckpt", fpStore = Some(fp))
    StreamingOps.writeDocFiles(spark, sf, src, 100, 120)
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val ids = docs.filter(col("doc_id") < 120).select("doc_id")
      .as[Long].collect().toSet
    val takedowns = ids.filter(i => i < 100 && i % 9 == 2)
    StreamingOps.writeDelFiles(src, (takedowns + 119L).toSeq.sorted)
    StreamingOps.arrivalShardedPqIngest(spark, src, "*.txt", home, 3,
      s"$dir/ckpt", fpStore = Some(fp))
    val (d1, s1) = graft.operators.ShardedHome.serving(home).get
    def membership(d: String, sh: Int): Set[Long] = (0 until sh).map(r =>
      graft.operators.PqIndex.loadEncoded(spark, s"$d/shard=$r")
        .select("vec_id")).reduce(_ unionAll _).as[Long].collect().toSet
    val expected = ids -- takedowns - 119L
    assert(membership(d1, s1) == expected,
      "deleted codes must be hidden from the encoded logical view")
    // the fp store is PHYSICAL (deletion truth lives in the index): every
    // upserted id present, the rebuild corpus is the membership semi-join
    assert(graft.sources.FpStore.read(spark, fp).count() == ids.size)
    assert(graft.sources.FpStore.readMember(spark, fp,
      spark.createDataset(expected.toSeq).toDF("vec_id"))
      .count() == expected.size)
    // growth: a third tranche under a finite budget rebuilds at S' from
    // fp ⋉ membership — pointer flips, takedowns stay absent, no
    // sidecars in the new generation
    StreamingOps.writeDocFiles(spark, sf, src, 120, 140)
    val ids3 = docs.filter(col("doc_id") >= 120 && col("doc_id") < 140)
      .select("doc_id").as[Long].collect().toSet
    val expected2 = expected ++ ids3
    val budget = math.max(1L, expected2.size / 4L)
    StreamingOps.arrivalShardedPqIngest(spark, src, "*.txt", home, 3,
      s"$dir/ckpt", fpStore = Some(fp), maxShardRows = budget)
    val (d2, s2) = graft.operators.ShardedHome.serving(home).get
    assert(d2 == s"$home/gen-2" &&
      s2 == ((expected2.size + budget - 1) / budget).toInt,
      s"growth must flip to gen-2 at the policy S' (got $d2, $s2)")
    assert(membership(d2, s2) == expected2,
      "the rebuilt generation must serve exactly the live membership")
    assert((0 until s2).forall(r => graft.sources.Tombstones
      .read(spark, s"$d2/shard=$r").isEmpty),
      "the rebuilt generation is born clean — no tombstone forwarding")
    assert(new java.io.File(d1).exists(),
      "the retired generation survives its flip (keep-previous GC — a " +
        "lease-free prober holding the pre-flip pair keeps its files)")
    assert(graft.operators.ShardedHome.gcRetired(home) == Seq("gen-1") &&
      !new java.io.File(d1).exists(),
      "the explicit GC verb reclaims the retired generation")
  }

  test("CdcLog: collapse keeps the max-seq op per id; FpStore vacuum bounds lingering rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cdclog_unit").toString
    val log = s"$dir/log"
    graft.sources.CdcLog.append(spark, log,
      Seq(("add", 1L, "a"), ("add", 2L, "b"), ("del", 1L, null)))
    graft.sources.CdcLog.append(spark, log, Seq(("add", 1L, "a2")))
    assert(graft.sources.CdcLog.nextSeq(spark, log) == 4L,
      "seqs must be contiguous across append calls")
    val net = graft.sources.CdcLog.collapse(
      spark.read.schema(graft.sources.CdcLog.schema).parquet(log))
      .select("doc_id", "op", "text").as[(Long, String, String)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(net == Map(1L -> (("add", "a2")), 2L -> (("add", "b"))),
      s"collapse must keep the latest op+payload per id: $net")
    // FpStore: LATEST-WINS upsert (max-seq per id — the reference's own
    // sink replaces by key, db_utils.py:169-170), membership read, vacuum
    val fp = s"$dir/fp"
    val v1 = Seq((1L, 0, Seq(1.0f)), (2L, 0, Seq(2.0f)))
      .toDF("vec_id", "label", "embedding")
    graft.sources.FpStore.upsert(spark, fp, v1)
    graft.sources.FpStore.upsert(spark, fp,
      Seq((2L, 0, Seq(9.9f)), (3L, 0, Seq(3.0f)))
        .toDF("vec_id", "label", "embedding"))
    assert(graft.sources.FpStore.read(spark, fp).count() == 3)
    assert(graft.sources.FpStore.read(spark, fp)
      .filter(col("vec_id") === 2L).select("embedding")
      .as[Seq[Float]].head() == Seq(9.9f),
      "latest seq wins — a payload-replacing upsert must serve the new row")
    val member = Seq(1L, 3L).toDF("vec_id")
    assert(graft.sources.FpStore.readMember(spark, fp, member)
      .select("vec_id").as[Long].collect().toSet == Set(1L, 3L))
    // the seq axis: per-batch stamps, watermark, and the file-pruned
    // window read the encoded catch-up replay fetches deltas through
    assert(graft.sources.FpStore.maxSeq(spark, fp) == 1L,
      "two upsert batches must stamp seqs 0 and 1")
    assert(graft.sources.FpStore.since(spark, fp, 0L)
      .select("vec_id").as[Long].collect().toSet == Set(2L, 3L),
      "since(w) must serve exactly the post-watermark upserts " +
        "(including the replaced payload's new row)")
    graft.sources.FpStore.vacuum(spark, fp, member)
    assert(graft.sources.FpStore.read(spark, fp)
      .select("vec_id").as[Long].collect().toSet == Set(1L, 3L),
      "vacuum must drop rows outside the membership")
    assert(graft.sources.FpStore.maxSeq(spark, fp) == 1L,
      "vacuum must preserve the seq axis")
    // a reader that resolved the version just before the vacuum's flip
    // keeps its files (keep-previous GC — the pointer discipline every
    // other store publishes behind, now on the fp store's serving path)
    graft.sources.FpStore.upsert(spark, fp,
      Seq((4L, 0, Seq(4.0f))).toDF("vec_id", "label", "embedding"))
    val preFlip = graft.sources.FpStore.read(spark, fp)
    graft.sources.FpStore.vacuum(spark, fp, Seq(1L, 3L, 4L).toDF("vec_id"))
    assert(preFlip.count() == 3,
      "a pre-flip reader's resolved version must stay readable (keep-previous)")
    assert(graft.sources.FpStore.read(spark, fp)
      .select("vec_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    // seq.META loss (legacy store / manual cleanup): the next claim
    // falls back to ONE max(seq) data scan and stays monotone — a
    // watermark sidecar miss must never reuse a seq
    graft.sources.Versioned.metaBackend.deleteRecursively(s"$fp/seq.META")
    graft.sources.FpStore.upsert(spark, fp,
      Seq((5L, 0, Seq(5.0f))).toDF("vec_id", "label", "embedding"))
    assert(graft.sources.FpStore.maxSeq(spark, fp) == 3L,
      "post-loss claim = scanned max + 1 (seqs 0..2 lived in the data)")
    assert(graft.sources.FpStore.since(spark, fp, 2L)
      .select("vec_id").as[Long].collect().toSet == Set(5L))
  }
}
