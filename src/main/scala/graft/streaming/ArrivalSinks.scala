package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE implementation behind the streamed sharded-index sinks
  * ([[StreamingOps.arrivalShardedIngest]] — full-precision,
  * [[StreamingOps.arrivalCdcShardedIngest]] — full-precision + takedown
  * markers, [[StreamingOps.arrivalShardedPqIngest]] — encoded,
  * [[StreamingOps.cdcLogShardedIngest]] — seq-ordered CDC log). They
  * were three ~80%-identical foreachBatch scaffolds whose capabilities
  * had already drifted (round-16 verdict: the growth loop lived only in
  * the plain sink, deletes only in the CDC one, the encoded sink had
  * neither); one parameterized batch body with per-geometry verbs
  * injected keeps the next verb from drifting the same way.
  *
  * Per micro-batch, against the [[graft.operators.ShardedHome]] pointer
  * (resolved EVERY batch — pointer-first crash recovery, external
  * reshards followed):
  *
  *   1. no pointer → BUILD the S-shard composition from the batch's
  *      upserts (the bounded training sample) and publish the pointer;
  *      then apply the batch's deletes.
  *   2. pointer → RE-ADD path (CDC-log sinks only): upserts of ids the
  *      owning shard still tombstones get that shard COMPACTED first
  *      (the physical apply clears the sidecar, the documented
  *      re-add-requires-compact contract — the sink performs the
  *      compact, so an ordered feed's delete→re-add converges without
  *      external maintenance); then APPEND (hash-routed per-shard
  *      anti-join idempotence — redelivery is a no-op), re-resolving
  *      once if a cross-process reshard flipped the pointer mid-batch;
  *      then DELETE (tombstones routed to owning shards — within one
  *      collapsed batch the net op per id already decided who wins);
  *      then the geometry's per-batch MAINTENANCE (IVF: the
  *      continueOnGateFailure drift-retrain sweep; PQ: none — retrain
  *      is external, the qerr series is its signal); then the GROWTH
  *      loop when `maxShardRows` is finite.
  */
private[streaming] object ArrivalSinks {

  /** The per-geometry verb set the shared batch body is parameterized
    * by: the sharded composition itself (build, routed append/delete,
    * per-shard compact, the growth loop's catch-up reshard) plus the
    * per-batch `maintain` sweep. `fp` is the encoded geometry's cold
    * full-precision store ([[graft.sources.FpStore]]): every non-empty
    * upsert batch persists there FIRST (under its writer lease), and the
    * growth loop re-encodes from it; None for the self-contained IVF
    * artifacts.
    */
  private[streaming] case class GeomVerbs(
    sharded: graft.operators.Sharded,
    maintain: (SparkSession, String, Int) => Unit,
    fp: Option[String])

  private[streaming] def ivfVerbs(): GeomVerbs = GeomVerbs(
    sharded = graft.operators.ShardedIvf,
    maintain = (sp, dir, s) => {
      graft.operators.ShardedIvf.retrainIfNeeded(sp, dir, s,
        continueOnGateFailure = true)
      ()
    },
    fp = None)

  private[streaming] def pqVerbs(fp: Option[String]): GeomVerbs =
    GeomVerbs(graft.operators.ShardedPq,
      maintain = (_, _, _) => (), // PQ retrain is external scheduled work
      fp = fp)

  /** The ids of `ids` (one vec_id column) one shard's sidecar tombstones. */
  private def shardTombstoned(sp: SparkSession, shardPath: String,
                              ids: DataFrame): DataFrame =
    graft.sources.Tombstones.read(sp, shardPath) match {
      case Some(t) => ids.join(t.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
      case None => ids.limit(0)
    }

  /** The shared batch body. `ups` is the embedded upsert frame
    * (vec_id, label, embedding); `dels` one vec_id column;
    * `readdCompacts` enables step 2's re-add path (ONLY for seq-ordered
    * feeds — with unordered markers a stale tombstone is
    * indistinguishable from a takedown that must win, so marker sinks
    * keep the documented re-add-requires-external-compact contract).
    */
  private[streaming] def processBatch(sp: SparkSession, home: String,
                                      shards: Int, verbs: GeomVerbs,
                                      ups: DataFrame, dels: DataFrame,
                                      maxShardRows: Long,
                                      readdCompacts: Boolean): Unit = {
    // one action, reused by every empty-guard below (a delete-only batch
    // must not pay the append lease + S per-shard probes for nothing)
    val upsEmpty = ups.isEmpty
    // persist holds the fp store's writer lease (serialized with an
    // external vacuum) — contention is transient maintenance, retried
    if (!upsEmpty) verbs.fp.foreach(p =>
      StreamingOps.retryOnContention() { graft.sources.FpStore.upsert(sp, p, ups) })
    def applyDeletes(dir: String, sN: Int): Unit =
      if (!dels.isEmpty) StreamingOps.retryOnContention() {
        verbs.sharded.delete(sp, dir, sN, dels)
      }
    graft.operators.ShardedHome.serving(home) match {
      case None =>
        if (!upsEmpty) {
          val gen = graft.operators.ShardedHome.InitialGen
          StreamingOps.retryOnContention() {
            verbs.sharded.build(sp, ups, s"$home/$gen", shards)
          }
          graft.operators.ShardedHome.publishServing(home, gen, shards)
          applyDeletes(s"$home/$gen", shards)
        }
      // a delete-only batch against a not-yet-built home is a SEMANTIC
      // no-op and is consumed as one (deleting an id no index holds
      // removes nothing; a later upsert of that id is a new document)
      case Some((dir0, s0)) =>
        if (readdCompacts && !upsEmpty) {
          // ordered-feed re-add: compact exactly the shards whose
          // sidecars still hold an id this batch re-adds (the physical
          // apply clears stale AND live tombstones for those shards;
          // cost = a cell-partitioned rewrite of each such shard, paid
          // only when a takedown is actually reversed). Gate DRIVER-SIDE
          // first: a shard with no sidecar file cannot hold a re-add, so
          // the common no-tombstone steady state pays a pure fs check —
          // zero Spark jobs — and only sidecar-carrying shards pay the
          // one semi-join probe (which subsumes the slice-empty check).
          val withSidecar = (0 until s0).filter(r =>
            graft.sources.Tombstones.read(sp, s"$dir0/shard=$r").isDefined)
          if (withSidecar.nonEmpty) {
            val upIds = ups.select("vec_id")
              .withColumn("shard", graft.operators.Sharded.shardCol(s0))
            withSidecar.foreach { r =>
              val slice = upIds.filter(col("shard") === r).drop("shard")
              val shardPath = s"$dir0/shard=$r"
              if (!shardTombstoned(sp, shardPath, slice).isEmpty)
                try StreamingOps.retryOnContention() {
                  verbs.sharded.compactAt(sp, shardPath)
                } catch {
                  // a FULLY tombstoned shard refuses its compact (an empty
                  // partitioned rewrite is unreadable — the store contract);
                  // the stream must survive it: the re-add stays absorbed
                  // until appends regrow the shard or the operator rebuilds
                  case e: IllegalArgumentException =>
                    System.err.println(s"[graft] re-add compact skipped on " +
                      s"$shardPath: ${e.getMessage}")
                }
            }
          }
        }
        // resolve-then-append can race a CROSS-PROCESS reshard's pointer
        // flip (the flip holds the old generation's lease, so the append
        // either finishes first or fails on the GC'd generation) —
        // re-resolve once and retry on the new pair
        def appendResolved(dir: String, sN: Int): Unit =
          StreamingOps.retryOnContention() {
            verbs.sharded.append(sp, dir, sN, ups)
          }
        // delete-only batches skip the append path entirely — no root
        // writer lease, no S per-shard append probes for an empty frame
        if (!upsEmpty) {
          try appendResolved(dir0, s0)
          catch {
            case e: Exception
                if graft.operators.ShardedHome.serving(home)
                  .exists(_._1 != dir0) =>
              val (dir1, s1) = graft.operators.ShardedHome.serving(home).get
              System.err.println(s"[graft] serving generation moved " +
                s"mid-batch ($dir0 -> $dir1): ${e.getMessage}; retrying")
              appendResolved(dir1, s1)
          }
        }
        val (dir, sN) = graft.operators.ShardedHome.serving(home).get
        applyDeletes(dir, sN)
        StreamingOps.retryOnContention() { verbs.maintain(sp, dir, sN) }
        // growth loop: judged every batch (S physical footer counts
        // minus sidecar-sized tombstone counts — metadata-cheap),
        // catch-up reshard + pointer flip when over the line
        if (maxShardRows != Long.MaxValue)
          graft.operators.ShardedHome.grow(sp, home, maxShardRows, verbs.sharded, verbs.fp)
    }
  }

  /** The stream scaffold of every arrival sink: session conf tweaks
    * (restored in a finally), a binaryFile or CDC-log `source`, one
    * foreachBatch running `body` per batch, drained synchronously. The
    * many-small-files scan pins the per-file open cost to 8 KiB: the
    * default 4 MiB padding fragments a folder of KB-sized documents into
    * hundreds of near-empty tasks.
    */
  private[streaming] def runArrival(spark: SparkSession, checkpoint: String,
                                    source: DataFrame,
                                    body: DataFrame => Unit): Unit = {
    val prevOpenCost = spark.conf.get("spark.sql.files.openCostInBytes")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.files.openCostInBytes", "8192")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = source.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          body(batch.toDF())
        }
        .start()
      q.processAllAvailable()
    } finally {
      try { if (q != null) q.stop() } finally {
        spark.conf.set("spark.sql.files.openCostInBytes", prevOpenCost)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
    }
  }

  /** The binaryFile arrival source every file-arrival sink shares (the
    * schema is fixed and declared: streaming file sources do not infer).
    */
  private[streaming] def binarySource(spark: SparkSession, srcDir: String,
                                      glob: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", glob)
      .schema(schema)
      .load(srcDir)
  }

  /** Embed a (doc_id, text) frame with the deterministic
    * [[graft.operators.HashingEmbedder]] into (vec_id, label, embedding).
    */
  private[streaming] def embed(sp: SparkSession, docs: DataFrame): DataFrame = {
    import sp.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val emb = new graft.operators.HashingEmbedder()
        it.map { case (id, tx) => (id, 0, emb.embed(tx).toSeq) }
      }
      .toDF("vec_id", "label", "embedding")
  }
}
