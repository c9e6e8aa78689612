package graft.sources

import graft.SparkTestBase
import graft.operators.{NearDup, PqIndex}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The non-ANN build-once artifacts (ShingleStore / MinhashStore /
  * PostingStore) and the PQ probe plan: every persisted table must equal
  * the frame computed fresh from the corpus (the oracle guards this
  * end-to-end per query; these specs localize a failure to the store), and
  * the probe plans must actually use the physical layout — row-group
  * pushdown for token probes, partition pruning for PQ cells.
  */
class ArtifactStoresSpec extends SparkTestBase {

  private lazy val docs = Tables.load(spark, sf, "documents")

  test("ShingleStore rows and df equal a fresh computation") {
    val stored = ShingleStore.table(spark, sf, "rows")
    val fresh = ShingleStore.shingleRowsOf(docs)
    assert(stored.count() == fresh.count())
    assert(stored.except(fresh).isEmpty && fresh.except(stored).isEmpty)
    val df = ShingleStore.derived(spark, sf, "df")
    val freshDf = fresh.groupBy("sh").agg(count(lit(1)).as("df"))
    assert(df.except(freshDf).isEmpty && freshDf.except(df).isEmpty)
  }

  test("duplicatedSpans: planted shared spans are recovered exactly, nothing else flagged") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 20 docs over doc-unique vocabularies (no accidental 8-gram can
    // repeat across docs); plant one shared span per doc pair (2j, 2j+1)
    // of length 8..20 at a random interior position — the span is the
    // ONLY cross-document text
    val spans = (0 until 5).map { j =>
      val len = 8 + rnd.nextInt(13)
      (j, (0 until len).map(k => s"shared_${j}_$k"))
    }
    val docRows = (0 until 20).map { id =>
      val base = (0 until 30 + rnd.nextInt(50)).map(i => s"w${id}_$i")
      spans.find(s => id / 2 == s._1 && id < 10) match {
        case Some((_, sp)) =>
          val at = 3 + rnd.nextInt(base.size - 6)
          val words = base.take(at) ++ sp ++ base.drop(at)
          (id.toLong, words.mkString(" "), sp.size, words.size)
        case None => (id.toLong, base.mkString(" "), 0, base.size)
      }
    }
    val docs = docRows.map { case (id, tx, _, _) => (id, tx) }.toDF("doc_id", "text")
    val got = graft.Graft.duplicatedSpans(spark, docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    docRows.foreach { case (id, _, planted, nWords) =>
      val (gn, dup, nSpans, maxSpan) = got(id)
      assert(gn == nWords, s"doc $id n_words")
      if (planted >= 8) {
        assert(dup == planted, s"doc $id: dup_words $dup != planted $planted")
        assert(nSpans == 1 && maxSpan == planted, s"doc $id span shape")
      } else {
        assert(dup == 0 && nSpans == 0 && maxSpan == 0, s"doc $id false positive")
      }
    }
  }

  test("RowCountCache: cached while unchanged, recounts on append/delete/compact") {
    val root = java.nio.file.Files.createTempDirectory("graft_rcc").toString
    val halfA = docs.filter(col("doc_id") < 25)
    ShingleStore.build(spark, halfA, s"$root/sh")
    var computes = 0
    def counted(): Long = RowCountCache.countFor(s"$root/sh", "rows") {
      computes += 1
      ShingleStore.tableAt(spark, s"$root/sh", "rows").count()
    }
    val n1 = counted(); val n1b = counted()
    assert(n1 == n1b && computes == 1, "unchanged table must serve the memo")
    // append adds part files to the current version -> fingerprint moves
    ShingleStore.append(spark, s"$root/sh", docs)
    val n2 = counted()
    assert(n2 > n1 && computes == 2, "append must invalidate the memo")
    // delete writes the tombstone sidecar -> fingerprint moves
    val victim = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(1)
    ShingleStore.delete(spark, s"$root/sh", victim)
    val n3 = counted()
    assert(n3 < n2 && computes == 3, "tombstone must invalidate the memo")
    // compaction re-points the version -> fingerprint moves; count stable
    ShingleStore.compact(spark, s"$root/sh", partitions = 2)
    val n4 = counted()
    assert(n4 == n3 && computes == 4, "compact must invalidate the memo")
  }

  test("SubstrStore rows/docs/df equal a fresh computation; append equals build; delete tombstones") {
    import org.apache.spark.sql.DataFrame
    def eq(a: DataFrame, b: DataFrame): Boolean =
      a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty
    val stored = SubstrStore.table(spark, sf, "rows")
    val fresh = SubstrStore.anchorRowsOf(docs)
    assert(eq(stored, fresh))
    assert(eq(SubstrStore.table(spark, sf, "docs"), SubstrStore.docRowsOf(docs)))
    // the stored df table keeps ONLY duplicated anchors (df >= 2) — the
    // broadcast-sized dup side every consumer joins against
    val freshDf = fresh.groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
    assert(eq(SubstrStore.derived(spark, sf, "df"), freshDf))
    // every anchor start must sit at a valid window position
    assert(fresh.filter(col("pos") < 1 ||
      col("pos") > col("n_words") - (SubstrStore.AnchorWords - 1)).isEmpty)

    // incremental: build half, append full corpus, compare to one-shot
    val root = java.nio.file.Files.createTempDirectory("graft_substr").toString
    val halfA = docs.filter(col("doc_id") < 25)
    SubstrStore.build(spark, halfA, s"$root/inc")
    SubstrStore.append(spark, s"$root/inc", docs)
    SubstrStore.build(spark, docs, s"$root/full")
    assert(eq(SubstrStore.tableAt(spark, s"$root/inc", "rows"),
      SubstrStore.tableAt(spark, s"$root/full", "rows")))
    assert(eq(SubstrStore.tableAt(spark, s"$root/inc", "docs"),
      SubstrStore.tableAt(spark, s"$root/full", "docs")))
    assert(eq(SubstrStore.derivedAt(spark, s"$root/inc", "df"),
      SubstrStore.derivedAt(spark, s"$root/full", "df")))
    // idempotence: re-appending the same corpus changes nothing
    val before = SubstrStore.tableAt(spark, s"$root/inc", "rows").count()
    SubstrStore.append(spark, s"$root/inc", docs)
    assert(SubstrStore.tableAt(spark, s"$root/inc", "rows").count() == before)
    // delete: tombstoned doc vanishes from every table, df realigns
    val victim = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(1)
    val vid = victim.head().getLong(0)
    SubstrStore.delete(spark, s"$root/inc", victim)
    assert(SubstrStore.tableAt(spark, s"$root/inc", "rows")
      .filter(col("doc_id") === vid).isEmpty)
    assert(SubstrStore.tableAt(spark, s"$root/inc", "docs")
      .filter(col("doc_id") === vid).isEmpty)
  }

  test("SubstrStore deferred df: stale after append, checked read self-repairs through the count cache") {
    val root = java.nio.file.Files.createTempDirectory("graft_substr_defer").toString
    val halfA = docs.filter(col("doc_id") < 25)
    SubstrStore.build(spark, halfA, s"$root/st")
    val dfBefore = SubstrStore.derivedAt(spark, s"$root/st", "df").count()
    // sink-mode append: rows land, df deliberately deferred (the crash-
    // equivalent state — watermark no longer matches the rows count)
    SubstrStore.append(spark, s"$root/st", docs, deferDerived = true)
    val rowsNow = SubstrStore.tableAt(spark, s"$root/st", "rows").count()
    assert(!Versioned.readPointer(s"$root/st", "df").exists(_.watermark == rowsNow),
      "deferred append must leave the df watermark stale")
    // the checked read repairs it — and the fingerprint cache must not
    // serve the pre-append count (the append changed the part listing)
    val dfAfter = SubstrStore.derivedAt(spark, s"$root/st", "df").count()
    assert(dfAfter > dfBefore, "repair must rebuild df over the appended rows")
    assert(Versioned.readPointer(s"$root/st", "df").exists(_.watermark == rowsNow),
      "repair must stamp the current rows count")
  }

  test("MinhashStore bands/sets equal fresh computation; probed pairs identical") {
    val bands = MinhashStore.table(spark, sf, "bands")
    val freshBands = NearDup.minhashBuckets(spark, docs)
    assert(bands.except(freshBands).isEmpty && freshBands.except(bands).isEmpty)
    val fromStore = NearDup.minhashNearDupPairsFrom(spark,
      bands, MinhashStore.table(spark, sf, "sets"), threshold = 0.5)
    val direct = NearDup.minhashNearDupPairs(spark, docs, threshold = 0.5)
    assert(fromStore.collect().toSeq == direct.collect().toSeq)
  }

  test("PostingStore probe pushes the term filter into the sorted scan") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // TestBlockSize EXPLICITLY: multi-group pruning is only observable with
    // row groups smaller than the fixture (the production 128 MiB default
    // would put all postings in one group)
    val dir = java.nio.file.Files.createTempDirectory("graft_probe").toString + "/pt"
    PostingStore.build(spark, docs, dir, blockSize = PhysicalLayout.TestBlockSize)
    try {
      val contrib = PostingStore.bm25ContribFromIndexAt(spark, dir, Seq("dup", "vector"))
      contrib.collect()
      val scans = contrib.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      val postingScan = scans.find(
        _.relation.location.rootPaths.mkString(",").contains("postings"))
      assert(postingScan.isDefined, "no postings scan in the probe plan")
      // the tok IN (...) predicate reaches parquet (row-group min/max
      // pruning over the tok-sorted layout)
      assert(postingScan.get.metadata("PushedFilters").contains("In(tok"),
        s"PushedFilters: ${postingScan.get.metadata("PushedFilters")}")
      // and row-group pruning actually binds: the scan emits the surviving
      // GROUPS, not the corpus (exact filtering happens in the Filter node
      // above). Granularity is row-group-sized, so on this tiny corpus the
      // probe reads ~1 of ~5 groups (measured 2508 of 11743 rows); at real
      // posting-table sizes the same layout reads the queried terms' slice.
      val emitted = postingScan.get.metrics("numOutputRows").value
      val total = PostingStore.tableAt(spark, dir, "postings").count()
      assert(emitted < total / 2,
        s"probe emitted $emitted of $total postings — row-group pruning not effective")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("BM25 scores from the index equal scores from the corpus") {
    val fromIndex = PostingStore.bm25ContribFromIndex(spark, sf, Seq("dup", "vector", "stream"))
      .groupBy("id").agg(round(sum("c"), 6).as("s"))
    val fromCorpus = graft.operators.Retrieval
      .bm25Contrib(docs, "doc_id", "text", Seq("dup", "vector", "stream"))
      .groupBy("id").agg(round(sum("c"), 6).as("s"))
    assert(fromIndex.except(fromCorpus).isEmpty && fromCorpus.except(fromIndex).isEmpty)
  }

  test("incremental append equals full build and is idempotent (shingle/minhash/posting)") {
    import org.apache.spark.sql.DataFrame
    val halfA = docs.filter(col("doc_id") < 25)
    def eq(a: DataFrame, b: DataFrame): Boolean =
      a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty
    val root = java.nio.file.Files.createTempDirectory("graft_append").toString

    // shingles: build on half, append the FULL corpus (anti-join must keep
    // only the new docs), compare against a one-shot full build
    ShingleStore.build(spark, halfA, s"$root/sh_inc")
    ShingleStore.append(spark, s"$root/sh_inc", docs)
    ShingleStore.build(spark, docs, s"$root/sh_full")
    assert(eq(ShingleStore.tableAt(spark, s"$root/sh_inc", "rows"),
      ShingleStore.tableAt(spark, s"$root/sh_full", "rows")))
    assert(eq(ShingleStore.derivedAt(spark, s"$root/sh_inc", "df"),
      ShingleStore.derivedAt(spark, s"$root/sh_full", "df")))
    // idempotence: re-appending the same corpus changes nothing
    val before = ShingleStore.tableAt(spark, s"$root/sh_inc", "rows").count()
    ShingleStore.append(spark, s"$root/sh_inc", docs)
    assert(ShingleStore.tableAt(spark, s"$root/sh_inc", "rows").count() == before)

    // minhash: per-doc tables, pure append
    MinhashStore.build(spark, halfA, s"$root/mh_inc")
    MinhashStore.append(spark, s"$root/mh_inc", docs)
    MinhashStore.build(spark, docs, s"$root/mh_full")
    assert(eq(MinhashStore.tableAt(spark, s"$root/mh_inc", "bands"),
      MinhashStore.tableAt(spark, s"$root/mh_full", "bands")))
    assert(MinhashStore.tableAt(spark, s"$root/mh_inc", "sets").count() ==
      MinhashStore.tableAt(spark, s"$root/mh_full", "sets").count())

    // postings: table equality up to segment layout + derived tables exact
    PostingStore.build(spark, halfA, s"$root/pt_inc")
    PostingStore.append(spark, s"$root/pt_inc", docs)
    PostingStore.build(spark, docs, s"$root/pt_full")
    assert(eq(PostingStore.tableAt(spark, s"$root/pt_inc", "postings"),
      PostingStore.tableAt(spark, s"$root/pt_full", "postings")))
    assert(eq(PostingStore.derivedAt(spark, s"$root/pt_inc", "df"),
      PostingStore.derivedAt(spark, s"$root/pt_full", "df")))
    assert(eq(PostingStore.derivedAt(spark, s"$root/pt_inc", "stats"),
      PostingStore.derivedAt(spark, s"$root/pt_full", "stats")))

    // substr: both base tables and the dup-anchor df, then idempotence
    SubstrStore.build(spark, halfA, s"$root/sub_inc")
    SubstrStore.append(spark, s"$root/sub_inc", docs)
    SubstrStore.build(spark, docs, s"$root/sub_full")
    for (t <- Seq("rows", "docs"))
      assert(eq(SubstrStore.tableAt(spark, s"$root/sub_inc", t),
        SubstrStore.tableAt(spark, s"$root/sub_full", t)), t)
    assert(eq(SubstrStore.derivedAt(spark, s"$root/sub_inc", "df"),
      SubstrStore.derivedAt(spark, s"$root/sub_full", "df")))
    SubstrStore.append(spark, s"$root/sub_inc", docs)
    for (t <- Seq("rows", "docs"))
      assert(eq(SubstrStore.tableAt(spark, s"$root/sub_inc", t),
        SubstrStore.tableAt(spark, s"$root/sub_full", t)), s"re-append changed $t")
  }

  test("a crash between two base tables' appends converges on retry (substr rows/docs, minhash bands/sets)") {
    import org.apache.spark.sql.DataFrame
    def eq(a: DataFrame, b: DataFrame): Boolean =
      a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty
    val root = java.nio.file.Files.createTempDirectory("graft_twotable_crash").toString
    val halfA = docs.filter(col("doc_id") < 25)
    val newDocs = docs.filter(col("doc_id") >= 25)

    // substr: the batch's anchor rows landed, then the crash — its docs
    // rows never did. The retry must not append the anchors a second time.
    SubstrStore.build(spark, halfA, s"$root/sub")
    val rowsDir = Versioned.readPointer(s"$root/sub", "rows").get.dir
    SubstrStore.anchorRowsOf(newDocs).write.mode("append").parquet(s"$root/sub/$rowsDir")
    SubstrStore.append(spark, s"$root/sub", newDocs)
    SubstrStore.build(spark, docs, s"$root/sub_full")
    for (t <- Seq("rows", "docs"))
      assert(eq(SubstrStore.tableAt(spark, s"$root/sub", t),
        SubstrStore.tableAt(spark, s"$root/sub_full", t)), t)
    assert(eq(SubstrStore.derivedAt(spark, s"$root/sub", "df"),
      SubstrStore.derivedAt(spark, s"$root/sub_full", "df")))

    // minhash: the batch's bands landed, its sets never did
    MinhashStore.build(spark, halfA, s"$root/mh")
    val bandsDir = Versioned.readPointer(s"$root/mh", "bands").get.dir
    NearDup.minhashBuckets(spark, newDocs).write.mode("append").parquet(s"$root/mh/$bandsDir")
    MinhashStore.append(spark, s"$root/mh", newDocs)
    MinhashStore.build(spark, docs, s"$root/mh_full")
    assert(eq(MinhashStore.tableAt(spark, s"$root/mh", "bands"),
      MinhashStore.tableAt(spark, s"$root/mh_full", "bands")))
    assert(MinhashStore.tableAt(spark, s"$root/mh", "sets").count() ==
      MinhashStore.tableAt(spark, s"$root/mh_full", "sets").count())
  }

  test("artifact paths keep their layout prefixes") {
    val tag = sf.replaceAll("[^a-zA-Z0-9]", "_") + "_" +
      PhysicalLayout.sourceTag(sf, "documents")
    val tmp = System.getProperty("java.io.tmpdir")
    val expected = Seq(
      (ShingleStore, "spark.graft.shingles.dir", "graft_shingles", "sh3_"),
      (MinhashStore, "spark.graft.minhash.dir", "graft_minhash", "mh2_"),
      (PostingStore, "spark.graft.postings.dir", "graft_postings", "pt2_"),
      (SubstrStore, "spark.graft.substr.dir", "graft_substr", "sub8v2_"))
    for ((a, conf, dir, prefix) <- expected) {
      assert(a.RootConf == conf)
      assert(a.path(spark, sf) == s"$tmp/$dir/$prefix$tag")
    }
  }

  test("the document stores hold only their format; localCheckpoint only behind ScaleOps") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // split literals: this file must not match its own scan
    val lifecycle = Seq("Versioned." + "withWriterLease", "Tombstones" + ".",
      "RowCount" + "Cache", "partFile" + "Count")
    val stores = Seq("Shingle", "Minhash", "Posting", "Substr")
      .map(n => Paths.get(s"src/main/scala/graft/sources/${n}Store.scala"))
    val leaks = stores.flatMap { p =>
      val text = Files.readString(p)
      lifecycle.filter(text.contains).map(w => s"$p: $w")
    }
    assert(leaks.isEmpty, leaks.mkString(", "))
    val files = Files.walk(Paths.get("src/main"))
    val checkpoints =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("localCheckpoint" + "("))
        .map(_.getFileName.toString).toList
      finally files.close()
    assert(checkpoints == List("ScaleOps.scala"), checkpoints.mkString(", "))
  }

  test("a reader concurrent with a refresh always sees a complete df version") {
    val root = java.nio.file.Files.createTempDirectory("graft_reader").toString
    val halfA = docs.filter(col("doc_id") < 25)
    ShingleStore.build(spark, halfA, s"$root/sh")
    // resolve the CURRENT version (as a concurrent reader would)…
    val oldDf = ShingleStore.derivedAt(spark, s"$root/sh", "df")
    val oldRows = oldDf.count()
    val oldPtr = Versioned.readPointer(s"$root/sh", "df").get
    // …then a refresh publishes a NEW version while the old read is open
    ShingleStore.append(spark, s"$root/sh", docs)
    val newPtr = Versioned.readPointer(s"$root/sh", "df").get
    assert(newPtr.dir != oldPtr.dir, "refresh must publish a fresh version dir")
    // the in-flight reader's version directory still exists and still reads
    // completely (GC keeps the immediately-previous version alive)
    assert(new java.io.File(s"$root/sh/${oldPtr.dir}").exists())
    assert(oldDf.count() == oldRows)
    // a new reader resolves the refreshed version with the bumped watermark
    assert(newPtr.watermark == ShingleStore.tableAt(spark, s"$root/sh", "rows").count())
    assert(ShingleStore.derivedAt(spark, s"$root/sh", "df").count() >= oldRows)
  }

  test("crash between append and refresh: watermark detects staleness, reader self-repairs") {
    val root = java.nio.file.Files.createTempDirectory("graft_crash").toString
    val halfA = docs.filter(col("doc_id") < 25)

    // shingle store: simulate the crash (rows appended, df refresh never ran)
    ShingleStore.build(spark, halfA, s"$root/sh")
    ShingleStore.appendBase(spark, s"$root/sh", docs)
    val shPtr = Versioned.readPointer(s"$root/sh", "df").get
    assert(shPtr.watermark != ShingleStore.tableAt(spark, s"$root/sh", "rows").count(),
      "stale df must be detectable via the watermark")
    // the checked reader repairs before serving: df equals a fresh build's
    ShingleStore.build(spark, docs, s"$root/sh_full")
    val repaired = ShingleStore.derivedAt(spark, s"$root/sh", "df")
    val expected = ShingleStore.derivedAt(spark, s"$root/sh_full", "df")
    assert(repaired.except(expected).isEmpty && expected.except(repaired).isEmpty)
    assert(Versioned.readPointer(s"$root/sh", "df").get.watermark ==
      ShingleStore.tableAt(spark, s"$root/sh", "rows").count())

    // posting store: same drill for df AND stats
    PostingStore.build(spark, halfA, s"$root/pt")
    PostingStore.appendBase(spark, s"$root/pt", docs, PhysicalLayout.TestBlockSize)
    assert(Versioned.readPointer(s"$root/pt", "df").get.watermark !=
      PostingStore.tableAt(spark, s"$root/pt", "postings").count())
    PostingStore.build(spark, docs, s"$root/pt_full")
    val rdf = PostingStore.derivedAt(spark, s"$root/pt", "df")
    val edf = PostingStore.derivedAt(spark, s"$root/pt_full", "df")
    assert(rdf.except(edf).isEmpty && edf.except(rdf).isEmpty)
    val rst = PostingStore.derivedAt(spark, s"$root/pt", "stats")
    val est = PostingStore.derivedAt(spark, s"$root/pt_full", "stats")
    assert(rst.except(est).isEmpty && est.except(rst).isEmpty)
  }

  test("N appends + compact == fresh build (table + probe row-group equality)") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // three tranches appended, then compacted — vs a one-shot build, both
    // at TestBlockSize so multi-group behavior is observable
    PostingStore.build(spark, docs.filter(col("doc_id") < 15), s"$root/inc",
      blockSize = PhysicalLayout.TestBlockSize)
    PostingStore.append(spark, s"$root/inc", docs.filter(col("doc_id") < 30),
      blockSize = PhysicalLayout.TestBlockSize)
    PostingStore.append(spark, s"$root/inc", docs,
      blockSize = PhysicalLayout.TestBlockSize)
    val preCompactDir = Versioned.readPointer(s"$root/inc", "postings").get.dir
    PostingStore.compact(spark, s"$root/inc", blockSize = PhysicalLayout.TestBlockSize)
    PostingStore.build(spark, docs, s"$root/full",
      blockSize = PhysicalLayout.TestBlockSize)
    assert(Versioned.readPointer(s"$root/inc", "postings").get.dir != preCompactDir,
      "compact must publish a fresh postings version")

    def eq(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty
    assert(eq(PostingStore.tableAt(spark, s"$root/inc", "postings"),
      PostingStore.tableAt(spark, s"$root/full", "postings")))
    // derived tables untouched by compact (same rows ⇒ same watermark) and
    // still exact
    assert(eq(PostingStore.derivedAt(spark, s"$root/inc", "df"),
      PostingStore.derivedAt(spark, s"$root/full", "df")))

    // probe IO: the compacted artifact's term probe reads the same slice a
    // fresh build's does (global sort restored ⇒ one row-group range per
    // term, not one per segment)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def probeRows(path: String): Long = {
        val probe = PostingStore.tableAt(spark, path, "postings")
          .filter(col("tok").isin("dup", "vector"))
        probe.collect()
        probe.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec => f.metrics("numOutputRows").value
        }.sum
      }
      val total = PostingStore.tableAt(spark, s"$root/full", "postings").count()
      val fresh = probeRows(s"$root/full")
      val compacted = probeRows(s"$root/inc")
      assert(fresh < total / 2, s"fresh-build probe read $fresh of $total")
      // same pruned slice up to one row group of boundary jitter:
      // repartitionByRange samples its boundaries from the input
      // partitioning, which concurrent suites legitimately perturb
      // (streaming drains pin shuffle.partitions/openCostInBytes
      // session-wide), so exact group-geometry equality is not stable in a
      // shared-session parallel run — the restored one-range-per-term
      // pruning is the invariant, not the byte-identical layout
      assert(compacted < total / 2,
        s"compacted probe read $compacted of $total — pruning not restored")
      // 2x, not byte-parity: boundary jitter has been observed to cost a
      // little over half of fresh's IO in a fully-parallel suite run; the
      // order-of-magnitude bound still separates "restored pruning" (a few
      // row groups) from "segment-per-append erosion" (the whole table)
      assert(compacted <= fresh * 2,
        s"compacted probe read $compacted row-group rows vs fresh build $fresh")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("small-file compaction (shingle rows / minhash) preserves tables, cuts file counts") {
    import org.apache.spark.sql.DataFrame
    val root = java.nio.file.Files.createTempDirectory("graft_smallfiles").toString
    def eq(a: DataFrame, b: DataFrame): Boolean =
      a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty
    def filesIn(path: String, name: String): Int = {
      val cur = Versioned.readPointer(path, name).get.dir
      new java.io.File(s"$path/$cur").listFiles()
        .count(_.getName.startsWith("part-"))
    }

    // three appended tranches fragment the rows table; compaction restores
    // a bounded file count without changing the table or its derived df
    ShingleStore.build(spark, docs.filter(col("doc_id") < 15), s"$root/sh")
    ShingleStore.append(spark, s"$root/sh", docs.filter(col("doc_id") < 30))
    ShingleStore.append(spark, s"$root/sh", docs)
    val shBefore = ShingleStore.tableAt(spark, s"$root/sh", "rows")
    val shCount = shBefore.count()
    val fragmented = filesIn(s"$root/sh", "rows")
    ShingleStore.compact(spark, s"$root/sh", partitions = 2)
    assert(filesIn(s"$root/sh", "rows") == 2 && fragmented > 2,
      s"expected 2 files after compact (was $fragmented)")
    assert(ShingleStore.tableAt(spark, s"$root/sh", "rows").count() == shCount)
    ShingleStore.build(spark, docs, s"$root/sh_full")
    assert(eq(ShingleStore.tableAt(spark, s"$root/sh", "rows"),
      ShingleStore.tableAt(spark, s"$root/sh_full", "rows")))
    assert(eq(ShingleStore.derivedAt(spark, s"$root/sh", "df"),
      ShingleStore.derivedAt(spark, s"$root/sh_full", "df")))

    // the self-scheduling trigger: below threshold nothing runs, past it
    // the rewrite restores the bounded layout
    assert(!ShingleStore.compactIfNeeded(spark, s"$root/sh", maxFiles = 64))

    MinhashStore.build(spark, docs.filter(col("doc_id") < 15), s"$root/mh")
    MinhashStore.append(spark, s"$root/mh", docs.filter(col("doc_id") < 30))
    MinhashStore.append(spark, s"$root/mh", docs)
    val mhFragmented = filesIn(s"$root/mh", "bands")
    assert(!MinhashStore.compactIfNeeded(spark, s"$root/mh", maxFiles = 64))
    assert(MinhashStore.compactIfNeeded(spark, s"$root/mh",
      maxFiles = 2, partitions = 2))
    assert(filesIn(s"$root/mh", "bands") == 2 && mhFragmented > 2)
    assert(filesIn(s"$root/mh", "sets") == 2)
    MinhashStore.build(spark, docs, s"$root/mh_full")
    assert(eq(MinhashStore.tableAt(spark, s"$root/mh", "bands"),
      MinhashStore.tableAt(spark, s"$root/mh_full", "bands")))
    assert(MinhashStore.tableAt(spark, s"$root/mh", "sets").count() ==
      MinhashStore.tableAt(spark, s"$root/mh_full", "sets").count())

    // postings and substr: the same trigger and rewrite; the substr docs
    // sidecar compacts into one file
    for ((a, name, tables, derived) <- Seq(
        (PostingStore, "pt", Seq("postings"), Seq("df", "stats")),
        (SubstrStore, "sub", Seq("rows", "docs"), Seq("df")))) {
      val first = tables.head
      a.build(spark, docs.filter(col("doc_id") < 15), s"$root/$name")
      a.append(spark, s"$root/$name", docs.filter(col("doc_id") < 30))
      a.append(spark, s"$root/$name", docs)
      val before = filesIn(s"$root/$name", first)
      assert(!a.compactIfNeeded(spark, s"$root/$name", maxFiles = 64))
      assert(a.compactIfNeeded(spark, s"$root/$name", maxFiles = 2, partitions = 2))
      assert(filesIn(s"$root/$name", first) == 2 && before > 2,
        s"$name: expected 2 files after compact (was $before)")
      if (tables.contains("docs")) assert(filesIn(s"$root/$name", "docs") == 1)
      a.build(spark, docs, s"$root/${name}_full")
      for (t <- tables)
        assert(eq(a.tableAt(spark, s"$root/$name", t),
          a.tableAt(spark, s"$root/${name}_full", t)), s"$name $t")
      for (d <- derived)
        assert(eq(a.derivedAt(spark, s"$root/$name", d),
          a.derivedAt(spark, s"$root/${name}_full", d)), s"$name $d")
    }
  }

  test("delete tombstones: immediate reads, derived refresh, physical compaction, re-add after clear") {
    import org.apache.spark.sql.DataFrame
    val root = java.nio.file.Files.createTempDirectory("graft_delete").toString
    def eq(a: DataFrame, b: DataFrame): Boolean =
      a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty
    val dele = docs.filter(col("doc_id") % 10 === 0).select("doc_id")
    val remaining = docs.filter(col("doc_id") % 10 =!= 0)

    // postings: logical delete equals a fresh build over the survivors —
    // including the derived df/stats
    PostingStore.build(spark, docs, s"$root/pt", PhysicalLayout.TestBlockSize)
    PostingStore.delete(spark, s"$root/pt", dele)
    PostingStore.build(spark, remaining, s"$root/pt_ref", PhysicalLayout.TestBlockSize)
    assert(eq(PostingStore.tableAt(spark, s"$root/pt", "postings"),
      PostingStore.tableAt(spark, s"$root/pt_ref", "postings")))
    assert(eq(PostingStore.derivedAt(spark, s"$root/pt", "df"),
      PostingStore.derivedAt(spark, s"$root/pt_ref", "df")))
    assert(eq(PostingStore.derivedAt(spark, s"$root/pt", "stats"),
      PostingStore.derivedAt(spark, s"$root/pt_ref", "stats")))
    // a tombstoned id cannot sneak back in via append (raw existing-check)
    PostingStore.append(spark, s"$root/pt", docs, PhysicalLayout.TestBlockSize)
    assert(eq(PostingStore.tableAt(spark, s"$root/pt", "postings"),
      PostingStore.tableAt(spark, s"$root/pt_ref", "postings")))
    // compaction applies the deletion physically and clears the sidecar
    PostingStore.compact(spark, s"$root/pt", PhysicalLayout.TestBlockSize)
    assert(Tombstones.read(spark, s"$root/pt").isEmpty)
    val cur = Versioned.readPointer(s"$root/pt", "postings").get.dir
    assert(spark.read.parquet(s"$root/pt/$cur")
      .join(dele, Seq("doc_id")).count() == 0, "deleted rows survived compaction")
    assert(eq(PostingStore.tableAt(spark, s"$root/pt", "postings"),
      PostingStore.tableAt(spark, s"$root/pt_ref", "postings")))
    // after the clear, a re-append restores the documents
    PostingStore.append(spark, s"$root/pt", docs, PhysicalLayout.TestBlockSize)
    PostingStore.build(spark, docs, s"$root/pt_all", PhysicalLayout.TestBlockSize)
    assert(eq(PostingStore.tableAt(spark, s"$root/pt", "postings"),
      PostingStore.tableAt(spark, s"$root/pt_all", "postings")))

    // shingle + minhash: delete visible in every table, physical after compact
    ShingleStore.build(spark, docs, s"$root/sh")
    ShingleStore.delete(spark, s"$root/sh", dele)
    assert(eq(ShingleStore.tableAt(spark, s"$root/sh", "rows"),
      ShingleStore.shingleRowsOf(remaining)))
    ShingleStore.compact(spark, s"$root/sh")
    assert(Tombstones.read(spark, s"$root/sh").isEmpty)
    assert(eq(ShingleStore.tableAt(spark, s"$root/sh", "rows"),
      ShingleStore.shingleRowsOf(remaining)))
    MinhashStore.build(spark, docs, s"$root/mh")
    MinhashStore.delete(spark, s"$root/mh", dele)
    assert(eq(MinhashStore.tableAt(spark, s"$root/mh", "bands"),
      NearDup.minhashBuckets(spark, remaining)))
    MinhashStore.compact(spark, s"$root/mh")
    assert(Tombstones.read(spark, s"$root/mh").isEmpty)
    assert(eq(MinhashStore.tableAt(spark, s"$root/mh", "bands"),
      NearDup.minhashBuckets(spark, remaining)))

    // substr: delete visible in both base tables and the df, physical
    // after compact, and a re-append after the clear restores the docs
    def sameSubstr(a: String, b: String): Boolean =
      Seq("rows", "docs").forall(t =>
        eq(SubstrStore.tableAt(spark, a, t), SubstrStore.tableAt(spark, b, t))) &&
        eq(SubstrStore.derivedAt(spark, a, "df"), SubstrStore.derivedAt(spark, b, "df"))
    SubstrStore.build(spark, docs, s"$root/sub")
    SubstrStore.delete(spark, s"$root/sub", dele)
    SubstrStore.build(spark, remaining, s"$root/sub_ref")
    assert(sameSubstr(s"$root/sub", s"$root/sub_ref"))
    SubstrStore.compact(spark, s"$root/sub")
    assert(Tombstones.read(spark, s"$root/sub").isEmpty)
    for (t <- Seq("rows", "docs")) {
      val cur = Versioned.readPointer(s"$root/sub", t).get.dir
      assert(spark.read.parquet(s"$root/sub/$cur")
        .join(dele, Seq("doc_id")).count() == 0, s"deleted $t rows survived compaction")
    }
    assert(sameSubstr(s"$root/sub", s"$root/sub_ref"))
    SubstrStore.append(spark, s"$root/sub", docs)
    SubstrStore.build(spark, docs, s"$root/sub_all")
    assert(sameSubstr(s"$root/sub", s"$root/sub_all"))
  }

  test("compactIfNeeded triggers only past the segment threshold and restores the layout") {
    val root = java.nio.file.Files.createTempDirectory("graft_autocompact").toString + "/pt"
    PostingStore.build(spark, docs.filter(col("doc_id") < 10), root,
      blockSize = PhysicalLayout.TestBlockSize)
    // four appends of growing prefixes (the last one the full corpus)
    // fragment the store by ~4 files each
    for (hi <- Seq(20, 40, 100, Long.MaxValue)) {
      PostingStore.append(spark, root, docs.filter(col("doc_id") < hi),
        blockSize = PhysicalLayout.TestBlockSize, deferDerived = true)
      // below the threshold nothing runs
      assert(!PostingStore.compactIfNeeded(spark, root, maxFiles = 64,
        blockSize = PhysicalLayout.TestBlockSize))
    }
    val fragmented = PostingStore.fileCount(root)
    assert(fragmented > 8, s"expected fragmentation, saw $fragmented files")
    // past the threshold the re-sort runs and the canonical layout returns
    assert(PostingStore.compactIfNeeded(spark, root, maxFiles = 8,
      blockSize = PhysicalLayout.TestBlockSize))
    assert(PostingStore.fileCount(root) <= 8)
    PostingStore.build(spark, docs, s"${root}_full",
      blockSize = PhysicalLayout.TestBlockSize)
    val a = PostingStore.tableAt(spark, root, "postings")
    val b = PostingStore.tableAt(spark, s"${root}_full", "postings")
    assert(a.count() == b.count() && a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("IVF append assigns with the existing model; probes equal one-shot assignment") {
    import spark.implicits._
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, sf, "embeddings")
    val halfA = emb.filter(col("vec_id") < 250)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    val model = IvfIndex.train(spark, halfA, k = 8)
    IvfIndex.save(spark, model, IvfIndex.assign(spark, halfA, model), root)
    VectorIndexStore.appendIvf(spark, root, emb)
    val stored = IvfIndex.loadVectors(spark, root)
    assert(stored.count() == emb.count())
    // idempotent — and no second distortion-watermark row for a no-op
    VectorIndexStore.appendIvf(spark, root, emb)
    assert(IvfIndex.loadVectors(spark, root).count() == emb.count())
    val qerr = spark.read.parquet(s"$root/qerr")
    assert(qerr.count() == 1)
    val werr = qerr.head().getAs[Double]("mean_sq_err")
    assert(!werr.isNaN && werr >= 0.0, s"distortion watermark not finite: $werr")
    // probe over the appended artifact == probe over a one-shot assignment
    // with the SAME model
    val query = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val fromStore = IvfIndex.search(spark, stored.filter(col("vec_id") =!= 0),
      model, query, k = 10, nProbe = 3).collect().toSeq
    val oneShot = IvfIndex.search(spark,
      IvfIndex.assign(spark, emb, model).filter(col("vec_id") =!= 0),
      model, query, k = 10, nProbe = 3).collect().toSeq
    assert(fromStore == oneShot)
  }

  test("PQ append encodes with existing codebooks; probes equal one-shot; qerr watermark logged") {
    import spark.implicits._
    val emb = Tables.load(spark, sf, "embeddings")
    val halfA = emb.filter(col("vec_id") < 250)
    val nHalf = halfA.count()
    val root = java.nio.file.Files.createTempDirectory("graft_pq_append").toString
    val model = PqIndex.train(spark, halfA, nCells = 8)
    PqIndex.save(spark, model, PqIndex.encode(spark, halfA, model), root)
    VectorIndexStore.appendPq(spark, root, emb)
    assert(PqIndex.loadEncoded(spark, root).count() == emb.count())
    // idempotent: redelivery appends nothing and logs no watermark row
    VectorIndexStore.appendPq(spark, root, emb)
    assert(PqIndex.loadEncoded(spark, root).count() == emb.count())
    val qerr = spark.read.parquet(s"$root/qerr")
    assert(qerr.count() == 1)
    val w = qerr.head()
    assert(w.getAs[Long]("n_vectors") == emb.count() - nHalf)
    val err = w.getAs[Double]("mean_sq_err")
    assert(!err.isNaN && err >= 0.0, s"quantization watermark not finite: $err")
    assert(w.getAs[Long]("append_seq") == 0L)
    // probe over build(A)+append(B) == probe over encode(A ∪ B) with the
    // SAME model (pure-function encoding — the equivalence contract)
    val query = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val fromStore = PqIndex.search(spark,
      PqIndex.loadEncoded(spark, root).filter(col("vec_id") =!= 0),
      emb, model, query, k = 10, nProbe = 3, shortlist = 30).collect().toSeq
    val oneShot = PqIndex.search(spark,
      PqIndex.encode(spark, emb, model).filter(col("vec_id") =!= 0),
      emb, model, query, k = 10, nProbe = 3, shortlist = 30).collect().toSeq
    assert(fromStore == oneShot)
  }

  test("IVF/PQ compaction: pointer upgrade, probes identical, files bounded, legacy removed") {
    import spark.implicits._
    import graft.operators.IvfIndex
    def dataFiles(dir: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(p => p.getFileName.toString.startsWith("part-")).count()
      finally s.close()
    }
    val emb = Tables.load(spark, sf, "embeddings")
    val half = emb.filter(col("vec_id") < 250)
    val query = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()

    // IVF: two appends fragment the cells; compaction publishes a pointer
    // version with identical probe results and fewer files
    val root = java.nio.file.Files.createTempDirectory("graft_vec_compact").toString
    val model = IvfIndex.train(spark, half, k = 8)
    IvfIndex.save(spark, model, IvfIndex.assign(spark, half, model), root)
    VectorIndexStore.appendIvf(spark, root, emb.filter(col("vec_id") < 350))
    VectorIndexStore.appendIvf(spark, root, emb)
    def probe() = IvfIndex.search(spark,
      IvfIndex.loadVectors(spark, root).filter(col("vec_id") =!= 0),
      model, query, k = 10, nProbe = 3).collect().toSeq
    val before = probe()
    val frag = dataFiles(s"$root/vectors")
    VectorIndexStore.compactIvf(spark, root, nCells = 8)
    assert(Versioned.readPointer(root, "vectors").isDefined, "pointer upgrade missing")
    assert(dataFiles(IvfIndex.vectorsDir(root)) < frag,
      s"compaction did not reduce files (was $frag)")
    assert(IvfIndex.loadVectors(spark, root).count() == emb.count())
    assert(probe() == before)
    // the SECOND compaction removes the legacy plain dir
    VectorIndexStore.compactIvf(spark, root, nCells = 8)
    assert(!new java.io.File(s"$root/vectors").exists(), "legacy dir not removed")
    assert(probe() == before)

    // PQ: same drill, plus partition pruning must survive the re-layout
    val pqRoot = java.nio.file.Files.createTempDirectory("graft_pq_compact").toString
    val pqModel = PqIndex.train(spark, half, nCells = 8)
    PqIndex.save(spark, pqModel, PqIndex.encode(spark, half, pqModel), pqRoot)
    VectorIndexStore.appendPq(spark, pqRoot, emb)
    def pqProbe() = PqIndex.search(spark,
      PqIndex.loadEncoded(spark, pqRoot).filter(col("vec_id") =!= 0),
      emb, pqModel, query, k = 10, nProbe = 3, shortlist = 30).collect().toSeq
    val pqBefore = pqProbe()
    VectorIndexStore.compactPq(spark, pqRoot, nCells = 8)
    assert(Versioned.readPointer(pqRoot, "encoded").isDefined)
    assert(pqProbe() == pqBefore)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val short = PqIndex.adcShortlist(spark,
        PqIndex.loadEncoded(spark, pqRoot).filter(col("vec_id") =!= 0),
        pqModel, query, nProbe = 2, shortlist = 20)
      short.collect()
      val scan = short.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }.head
      assert(scan.metrics("numPartitions").value == 2,
        "cell pruning lost after compaction")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("PQ probe plan prunes the encoded scan to nProbe cell partitions") {
    import spark.implicits._
    val path = VectorIndexStore.ensurePq(spark, sf)
    val model = PqIndex.loadModel(spark, path)
    val encoded = PqIndex.loadEncoded(spark, path)
    val query = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") === 0).select("embedding").as[Array[Float]].head()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val nProbe = 2
      val short = PqIndex.adcShortlist(spark,
        encoded.filter(col("vec_id") =!= 0), model, query, nProbe = nProbe, shortlist = 20)
      short.collect()
      val scan = short.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }.head
      assert(scan.partitionFilters.nonEmpty)
      assert(scan.metrics("numPartitions").value == nProbe,
        s"PQ probe read ${scan.metrics("numPartitions").value} partitions, expected $nProbe")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("writer lease: concurrent appender fails loudly; store equals serial execution") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lease").toString + "/sh"
    val a = docs.filter(col("doc_id") < 10)
    val b = docs.filter(col("doc_id") >= 10 && col("doc_id") < 20)
    ShingleStore.build(spark, a, dir)
    // a second writer arriving while the lease is held must throw — the
    // silent-double-insert failure mode the contract documents
    val holding = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      Versioned.withWriterLease(dir) { holding.countDown(); release.await() })
    holder.start()
    holding.await()
    try {
      val loser = intercept[Versioned.ConcurrentWriterException] {
        ShingleStore.append(spark, dir, b)
      }
      assert(loser.getMessage.contains("single-writer") ||
        loser.getMessage.contains("active writer"))
      // the refused append left the store EXACTLY as it was
      assert(ShingleStore.tableAt(spark, dir, "rows").count() ==
        ShingleStore.shingleRowsOf(a).count())
    } finally { release.countDown(); holder.join() }
    // retried after the writer finished: final state == serial execution
    ShingleStore.append(spark, dir, b)
    val serial = ShingleStore.shingleRowsOf(a.union(b))
    val stored = ShingleStore.tableAt(spark, dir, "rows")
    assert(stored.except(serial).isEmpty && serial.except(stored).isEmpty)
    assert(!new java.io.File(
        new java.io.File(dir).getCanonicalPath + ".WRITER.LEASE").exists(),
      "lease must be released after append")
  }

  test("writer lease: unexpired foreign lease refused; expired lease taken over") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lease2").toString + "/st"
    new java.io.File(dir).mkdirs()
    val lease = new java.io.File(
      new java.io.File(dir).getCanonicalPath + ".WRITER.LEASE")
    // another process's ACTIVE lease (foreign pid, future expiry) → loud no
    java.nio.file.Files.writeString(lease.toPath,
      s"otherhost:4242 ${System.currentTimeMillis() + 600000}")
    intercept[Versioned.ConcurrentWriterException] {
      Versioned.withWriterLease(dir) { fail("body must not run under a foreign lease") }
    }
    // a crashed writer's EXPIRED lease → takeover, body runs, lease cleaned
    java.nio.file.Files.writeString(lease.toPath,
      s"otherhost:4242 ${System.currentTimeMillis() - 1000}")
    var ran = false
    Versioned.withWriterLease(dir) { ran = true }
    assert(ran && !lease.exists())
    // re-entrant within a thread (append → refresh nests): one lease
    Versioned.withWriterLease(dir) {
      Versioned.withWriterLease(dir) { ran = true }
      assert(lease.exists(), "nested acquisition must keep the outer lease")
    }
    assert(!lease.exists())
  }

  test("writer lease heartbeat: a long-running holder renews past its TTL") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lease3").toString + "/st"
    val lease = new java.io.File(
      new java.io.File(dir).getCanonicalPath + ".WRITER.LEASE")
    def expiry(): Long =
      java.nio.file.Files.readString(lease.toPath).trim.split(" ")(1).toLong
    // ttl 300 ms, body runs 1 s: without the heartbeat the lease would be
    // expired (takeover-able) for the last 700 ms of the write
    Versioned.withWriterLease(dir, ttlMs = 300) {
      Thread.sleep(1000)
      assert(lease.exists(), "lease must persist for the whole body")
      val e = expiry()
      assert(e > System.currentTimeMillis(),
        s"lease expired mid-body despite heartbeat (expiry $e)")
    }
    assert(!lease.exists(), "lease must be released on exit")
  }

  // ------------------------------------------------------------------
  // Drift-triggered retrain: the consumer of the qerr watermark series.
  // ------------------------------------------------------------------

  /** The v19 drill's regime change in miniature: +8 per coordinate. */
  private def shifted(df: org.apache.spark.sql.DataFrame, idOffset: Long) =
    df.select((col("vec_id") + idOffset).as("vec_id"), col("label"),
      transform(col("embedding"), x => x + lit(8.0f))
        .cast("array<float>").as("embedding"))

  test("IVF retrain: no-op below threshold, triggers on drift, idempotent, pointer-published") {
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") < 250)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_retrain").toString + "/ix"
    VectorIndexStore.buildIvfAt(spark, root, a, nCells = 8)
    // same-distribution append: drift stays near 1, no retrain
    VectorIndexStore.appendIvf(spark, root, emb.filter(col("vec_id") >= 250))
    val calmDrift = VectorIndexStore.driftFactor(spark, root)
    assert(calmDrift.exists(f => f > 0 && f < 2.0),
      s"same-distribution drift should sit near 1: $calmDrift")
    assert(!VectorIndexStore.retrainIvfIfNeeded(spark, root))
    val staleModel = IvfIndex.loadModel(spark, root)
    // regime change: translated tranche blows the distortion watermark up
    VectorIndexStore.appendIvf(spark, root, shifted(emb, 100000))
    assert(VectorIndexStore.driftFactor(spark, root).exists(_ > 2.0))
    assert(VectorIndexStore.retrainIvfIfNeeded(spark, root))
    // published behind pointers; model actually changed; assignment is
    // consistent with the NEW model (every row's cell is its nearest)
    assert(Versioned.readPointer(root, "vectors").isDefined)
    assert(Versioned.readPointer(root, "model").isDefined)
    val newModel = IvfIndex.loadModel(spark, root)
    assert(newModel.centroids.map(_.toSeq).toSeq != staleModel.centroids.map(_.toSeq).toSeq)
    import spark.implicits._
    val mismatched = IvfIndex.loadVectors(spark, root)
      .select(col("vec_id"), col("embedding"), col("cell").cast("int"))
      .as[(Long, Array[Float], Int)].collect()
      .count { case (_, e, c) => newModel.nearestCell(e) != c }
    assert(mismatched == 0, s"$mismatched rows assigned to a non-nearest cell")
    // the new baseline absorbs the new regime: a second call is a no-op
    assert(!VectorIndexStore.retrainIvfIfNeeded(spark, root))
    // and the count survived the swap
    assert(IvfIndex.loadVectors(spark, root).count() == emb.count() * 2)
  }

  test("retrain recall gate: failing candidate is discarded, live geometry keeps serving") {
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") < 250)
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_gate").toString + "/ix"
    VectorIndexStore.buildIvfAt(spark, root, a, nCells = 8)
    VectorIndexStore.appendIvf(spark, root, shifted(emb, 100000))
    val staleModel = IvfIndex.loadModel(spark, root)
    // an impossible floor: the candidate must be rejected LOUDLY and
    // nothing published — the stale-but-valid geometry stays live
    intercept[VectorIndexStore.RetrainRecallGateFailed] {
      VectorIndexStore.retrainIvfIfNeeded(spark, root, recallFloor = 1.01)
    }
    assert(Versioned.readPointer(root, "model").isEmpty)
    assert(IvfIndex.loadModel(spark, root).centroids.map(_.toSeq).toSeq ==
      staleModel.centroids.map(_.toSeq).toSeq)
    // and the lease was released on the failure path: a retry works
    assert(VectorIndexStore.retrainIvfIfNeeded(spark, root))
  }

  test("zero build-time baseline does not disable the drift loop") {
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, sf, "embeddings")
    // 8 vectors, 8 cells: every vector is its own centroid, so the
    // build-time mean distortion is exactly 0 — any positive appended
    // error must read as INFINITE drift, not unmeasurable drift
    val tiny = emb.filter(col("vec_id") < 8)
    val root = java.nio.file.Files.createTempDirectory("graft_zero_base").toString + "/ix"
    VectorIndexStore.buildIvfAt(spark, root, tiny, nCells = 8)
    VectorIndexStore.appendIvf(spark, root, shifted(emb.filter(col("vec_id") < 64), 100000))
    val drift = VectorIndexStore.driftFactor(spark, root)
    assert(drift.exists(_ > 2.0), s"zero baseline must not suppress drift: $drift")
    assert(VectorIndexStore.retrainIvfIfNeeded(spark, root, recallFloor = 0.0))
    assert(IvfIndex.loadVectors(spark, root).count() == 8 + 64)
  }

  test("semantics-version bump rebaselines in place instead of firing a spurious retrain") {
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") < 250)
    val root = java.nio.file.Files.createTempDirectory("graft_semver").toString + "/ix"
    VectorIndexStore.buildIvfAt(spark, root, a, nCells = 8)
    VectorIndexStore.appendIvf(spark, root, shifted(emb, 100000))
    // make the baseline read as a pre-upgrade (v1) artifact: strip the
    // version field the current writer stamps
    val bl = s"$root/qerr.BASELINE"
    val Array(m, s0, _) = Versioned.metaBackend.readString(bl).get.trim.split(" ")
    Versioned.metaBackend.writeAtomic(bl, s"$m $s0")
    // premise: under a naive cross-semantics comparison this drift fires
    assert(VectorIndexStore.driftFactor(spark, root).exists(_ > 2.0))
    // the retrain entry rebaselines (one corpus scan) and does NOT retrain
    assert(!VectorIndexStore.retrainIvfIfNeeded(spark, root))
    assert(Versioned.readPointer(root, "model").isEmpty,
      "a semantics bump must not publish a retrained geometry")
    val rewritten = Versioned.metaBackend.readString(bl).get.trim.split(" ")
    assert(rewritten.length == 3 &&
      rewritten(2).toInt == VectorIndexStore.DistortionSemanticsVersion)
    // every pre-existing qerr row is now pre-baseline: drift unmeasurable
    assert(VectorIndexStore.driftFactor(spark, root).isEmpty)
    // and the loop still lives: a genuinely drifted append PAST the new
    // baseline (far beyond the mixed-corpus mean it absorbed) retrains
    VectorIndexStore.appendIvf(spark, root,
      emb.select((col("vec_id") + 200000).as("vec_id"), col("label"),
        transform(col("embedding"), x => x + lit(64.0f))
          .cast("array<float>").as("embedding")))
    assert(VectorIndexStore.retrainIvfIfNeeded(spark, root, recallFloor = 0.0))
    assert(Versioned.readPointer(root, "model").isDefined)
  }

  test("missing or corrupt baseline sidecar rebaselines instead of cross-semantics retrain") {
    val emb = Tables.load(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") < 250)

    // (a) NO sidecar at all (a legacy pre-baseline artifact): driftFactor's
    // fallback compares v1-era first-row means against current watermarks —
    // the retrain entry must treat "no baseline" as semantics-stale and
    // write a fresh v2 baseline instead of acting on that comparison
    val root1 = java.nio.file.Files.createTempDirectory("graft_nobl").toString + "/ix"
    VectorIndexStore.buildIvfAt(spark, root1, a, nCells = 8)
    VectorIndexStore.appendIvf(spark, root1, shifted(emb, 100000))
    Versioned.metaBackend.deleteRecursively(s"$root1/qerr.BASELINE")
    assert(VectorIndexStore.driftFactor(spark, root1).exists(_ > 2.0),
      "premise: the legacy fallback reads as drifted")
    assert(!VectorIndexStore.retrainIvfIfNeeded(spark, root1),
      "a baseline-less artifact must rebaseline, not retrain")
    val written = Versioned.metaBackend.readString(s"$root1/qerr.BASELINE")
      .get.trim.split(" ")
    assert(written.length == 3 &&
      written(2).toInt == VectorIndexStore.DistortionSemanticsVersion)
    assert(Versioned.readPointer(root1, "model").isEmpty)

    // (b) corrupt / future-layout sidecar (4+ fields): reads as absent
    // with a diagnostic, then the same rebaseline path — never a bare
    // MatchError mid-maintenance
    val root2 = java.nio.file.Files.createTempDirectory("graft_badbl").toString + "/ix"
    VectorIndexStore.buildIvfAt(spark, root2, a, nCells = 8)
    VectorIndexStore.appendIvf(spark, root2, shifted(emb, 100000))
    Versioned.metaBackend.writeAtomic(s"$root2/qerr.BASELINE", "0.5 1 2 surprise")
    assert(!VectorIndexStore.retrainIvfIfNeeded(spark, root2),
      "a corrupt baseline must rebaseline, not throw or retrain")
    val rewritten2 = Versioned.metaBackend.readString(s"$root2/qerr.BASELINE")
      .get.trim.split(" ")
    assert(rewritten2.length == 3 &&
      rewritten2(2).toInt == VectorIndexStore.DistortionSemanticsVersion)
  }

  test("future-semantics baseline reads as stale: rebaselined under current semantics, never honored") {
    // the CAL-sidecar contract, applied to qerr.BASELINE: a baseline
    // stamped by a NEWER binary (ver > supported) parses but its mean was
    // computed under semantics this binary cannot interpret — honoring it
    // would judge drift across a semantics boundary (an absurd future
    // mean here would silently suppress every retrain)
    val emb = Tables.load(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") < 250)
    val root = java.nio.file.Files.createTempDirectory("graft_futbl").toString + "/ix"
    VectorIndexStore.buildIvfAt(spark, root, a, nCells = 8)
    VectorIndexStore.appendIvf(spark, root, shifted(emb, 100000))
    val bl = s"$root/qerr.BASELINE"
    Versioned.metaBackend.writeAtomic(bl,
      s"1000000000.0 0 ${VectorIndexStore.DistortionSemanticsVersion + 1}")
    assert(!VectorIndexStore.retrainIvfIfNeeded(spark, root),
      "a future-semantics baseline must rebaseline (one scan), not retrain")
    val rewritten = Versioned.metaBackend.readString(bl).get.trim.split(" ")
    assert(rewritten.length == 3 &&
      rewritten(2).toInt == VectorIndexStore.DistortionSemanticsVersion,
      "the sidecar must be rewritten under CURRENT semantics")
    assert(rewritten(0).toDouble < 1000000000.0,
      "the future mean must be recomputed, not copied")
    // rebaselined: every prior qerr row is pre-baseline, drift unmeasurable
    assert(VectorIndexStore.driftFactor(spark, root).isEmpty)
  }

  test("index-exists resolution survives repeated retrains deleting legacy dirs") {
    import graft.operators.IvfIndex
    val emb = Tables.load(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") < 250).select("vec_id", "label", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_rere").toString + "/ix"
    VectorIndexStore.buildIvfAt(spark, root, a)
    // retrain #1: publishes pointers, legacy dirs stay (pre-pointer readers)
    VectorIndexStore.appendIvf(spark, root, shifted(emb, 100000))
    assert(VectorIndexStore.retrainIvfIfNeeded(spark, root, recallFloor = 0.0))
    // retrain #2: hadPointer → deleteLegacy removes $root/model and
    // $root/vectors — the dirs the streaming sink used to existence-check
    val c = emb.select((col("vec_id") + 200000).as("vec_id"), col("label"),
      transform(col("embedding"), x => x * lit(-5.0f))
        .cast("array<float>").as("embedding"))
    VectorIndexStore.appendIvf(spark, root, c)
    assert(VectorIndexStore.retrainIvfIfNeeded(spark, root, recallFloor = 0.0))
    assert(!new java.io.File(s"$root/model").exists(),
      "second retrain should have removed the legacy model dir")
    // the pointer-resolving modelDir is what the sink must check: still
    // present, loads, and the index is complete
    assert(new java.io.File(IvfIndex.modelDir(root)).exists())
    assert(IvfIndex.loadModel(spark, root).centroids.nonEmpty)
    assert(IvfIndex.loadVectors(spark, root).count() == 250 + 500 + 500)
  }

  test("PQ retrain: drift triggers codebook rebuild; baseline reset; encoded swap complete") {
    val emb = Tables.load(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") < 250)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_retrain").toString + "/ix"
    VectorIndexStore.buildPqAt(spark, root, a)
    VectorIndexStore.appendPq(spark, root, shifted(emb, 100000))
    val corpus = a.select("vec_id", "label", "embedding")
      .unionAll(shifted(emb, 100000))
    val preDrift = VectorIndexStore.driftFactor(spark, root)
    assert(preDrift.exists(_ > 2.0), s"translated tranche must show drift: $preDrift")
    assert(VectorIndexStore.retrainPqIfNeeded(spark, root, corpus))
    assert(Versioned.readPointer(root, "encoded").isDefined)
    assert(Versioned.readPointer(root, "coarse").isDefined)
    assert(Versioned.readPointer(root, "codebooks").isDefined)
    assert(PqIndex.loadEncoded(spark, root).count() == corpus.count())
    // baseline reset: the retrained geometry fits the corpus again, so the
    // post-retrain drift reading is gone (nothing appended since baseline)
    assert(VectorIndexStore.driftFactor(spark, root).isEmpty)
    assert(!VectorIndexStore.retrainPqIfNeeded(spark, root, corpus))
  }

  test("PQ retrain preserves a non-default coarse geometry") {
    // buildPqAt now sizes the coarse quantizer (scale deployments pass
    // autoCells); the retrain must rebuild at the LIVE geometry, not
    // silently revert to the fixture default 16
    val emb = Tables.load(spark, sf, "embeddings")
    val a = emb.filter(col("vec_id") < 250)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_geo").toString + "/ix"
    VectorIndexStore.buildPqAt(spark, root, a, nCells = 8)
    assert(PqIndex.loadModel(spark, root).coarse.centroids.length == 8)
    VectorIndexStore.appendPq(spark, root, shifted(emb, 100000))
    val corpus = a.select("vec_id", "label", "embedding")
      .unionAll(shifted(emb, 100000))
    assert(VectorIndexStore.retrainPqIfNeeded(spark, root, corpus, recallFloor = 0.0))
    assert(PqIndex.loadModel(spark, root).coarse.centroids.length == 8,
      "retrain reverted the coarse geometry to the default")
  }
}
