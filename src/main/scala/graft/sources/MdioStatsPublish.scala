package graft.sources

import graft.zarr.{HConf, VPath, ZarrMeta}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** EXECUTOR-SIDE publication of the [[MdioChunkStats]] sidecar — the
  * distributed form of [[MdioChunkStats.refresh]] used by the one
  * stats-aware write route: the owner shuffle ([[MdioWriter.writeOwned]])
  * behind `writeVariable`, `insertAligned` and the DSv2 sink.
  *
  * Why it exists: a stats-aware write produces exactly one
  * [[MdioWriter.ChunkStatRow]] per touched chunk. Collecting those to the
  * driver and serializing every touched `.mdio_stats.s<N>.json` there —
  * the pre-r13 shape — is an O(chunks) driver stage: a full-store write
  * at the 100 TB envelope (~1.6 M chunks/variable) would union ~100+ MB
  * of rows on the driver heap and single-thread the JSON encode. Here the
  * stat rows stay distributed: they shuffle BY STATS-SHARD ID (the same
  * `leadIdx / span` key the sidecar files it under), each reduce task
  * writes the shard files it owns at the NEW generation (merging the
  * prior shard's entries for an incremental refresh), and the driver
  * receives only one [[MdioChunkStats.ShardMeta]] summary per TOUCHED
  * SHARD (~400 records at the envelope) to write the manifest — the
  * commit point, unchanged from the driver-side protocol: `.mdio_wgen`
  * bumps first, shard files land next, the manifest write commits last,
  * so every crash window reads as stale, never wrongly current.
  *
  * The chunk-data writes themselves ride in the SAME Spark action: the
  * stat rows are the output of the write job's owner tasks, so the whole
  * write+publish is one job — chunk files stream out of the owner tasks,
  * shard files out of the publish tasks, and nothing O(chunks) ever
  * materializes on the driver. Reference analog: statsV1 publication,
  * mdio/stats.h:229-335 + mdio/dataset.h:1269-1416 (attached attributes
  * committed after the write completes).
  */
object MdioStatsPublish {

  /** Decode a stat row's flat C-order chunk id into its sidecar key and
    * entry; None when the chunk is unprunable (±Inf bounds). */
  private def entryOf(sr: MdioWriter.ChunkStatRow, grid: Array[Long])
      : Option[(String, MdioChunkStats.Entry)] =
    MdioWriter.statEntry(sr).map(ZarrMeta.chunkKey(ZarrMeta.unflatten(sr.cid, grid).toSeq) -> _)

  /** The span a FRESH full publish derives without materializing entries:
    * full coverage has exactly `grid.tail.product` entries per leading
    * index. A partial fresh publish gets a coarser-than-ideal span (fewer,
    * larger shards), which the drift check corrects on a later refresh. */
  def gridSpan(grid: Array[Long]): Long =
    MdioChunkStats.deriveSpanOf(grid.product, grid.head - 1)

  /** Publish the sidecars for the stat rows of one write job (see object
    * doc): row `(t, sr)` belongs to `targets(t)` = (variable directory,
    * chunk grid). This is the terminal ACTION of the write: `rows`' lineage
    * includes the chunk-writing stages, which execute here, and one job
    * publishes every target. Each target's generation is bumped BEFORE the
    * action, so a job that dies midway leaves every sidecar reading stale,
    * never wrongly current. */
  private[sources] def publishRows(spark: SparkSession, hconf: HConf, targets: Seq[(String, Array[Long])],
                  rows: RDD[(Int, MdioWriter.ChunkStatRow)]): Unit = {
    val grids = targets.map(_._2).toArray
    publishEntries(spark, hconf, targets.map { case (d, grid) => d -> gridSpan(grid) },
      rows.flatMap { case (t, sr) => entryOf(sr, grids(t)).map(t -> _) })
  }

  /** Publish fresh per-chunk sidecar entries — `(t, (chunk key, entry))`
    * for `targets(t)` = (variable directory, span a from-scratch publish
    * uses) — against whatever prior state each directory holds, entirely
    * from executors except the generation bumps and the manifest commits. */
  private[sources] def publishEntries(spark: SparkSession, hconf: HConf, targets: Seq[(String, Long)],
                     entries: RDD[(Int, (String, MdioChunkStats.Entry))]): Unit = {
    val plans = targets.map { case (varDirStr, freshSpan) =>
      val varDir = VPath(varDirStr)
      // a legacy monolith was driver-written in the pre-shard era; migrating
      // it to shards on the driver first costs no more than the file that
      // already exists, and leaves the incremental case below
      if (MdioChunkStats.currentManifest(varDir).exists(_.legacy.nonEmpty))
        MdioChunkStats.refresh(varDir, Map.empty)
      // incremental against a current sharded prior: only touched shards
      // rewrite, each reduce task merging its prior shard's entries; a stale
      // or absent prior carries nothing over
      val prior = MdioChunkStats.currentManifest(varDir)
      Target(varDirStr, prior.map(_.span).getOrElse(freshSpan),
        MdioChunkStats.bump(varDir), prior.map(_.shards).getOrElse(Map.empty),
        MdioChunkStats.readManifest(varDir).map(_.shards.keySet).getOrElse(Set.empty))
    }
    val written = writeShards(entries, plans, hconf)
    plans.zipWithIndex.foreach { case (p, t) =>
      val varDir = VPath(p.varDirStr)
      val mine = written.collect { case ((`t`, sid), sm) => sid -> sm }
      val merged = p.prior ++ mine
      MdioChunkStats.writeManifest(varDir, p.gen, p.span, merged)
      // GC whatever shard files a dead manifest still listed
      if (p.prior.isEmpty) MdioChunkStats.gcShards(varDir, p.listed, mine.keySet)
      // span drift (store grew far past its first-publish span): re-derive
      // with a distributed full republish — still never O(store) driver
      else if (mine.valuesIterator.exists(
          _.count > MdioChunkStats.SpanDriftFactor * MdioChunkStats.ShardTargetEntries))
        respan(spark, p.varDirStr, hconf, p.span, merged)
    }
  }

  /** One sidecar a publish writes: its new generation `gen`, its shard span,
    * the current prior's shard records (empty = a fresh publish) and the
    * shard ids any prior manifest listed. */
  private final case class Target(varDirStr: String, span: Long, gen: Long,
                                  prior: Map[Long, MdioChunkStats.ShardMeta],
                                  listed: Set[Long])

  /** The reduce stage: shuffle fresh entries of target `t` by (t,
    * stats-shard id), write each owned shard file at the target's
    * generation (merging the prior shard's entries when its prior manifest
    * listed it), and return one summary per touched (target, shard). The
    * targets are driver-small (one record per shard, ~400 at the 100 TB
    * envelope) and ride in the task closure. */
  private def writeShards(entries: RDD[(Int, (String, MdioChunkStats.Entry))],
                          targets: Seq[Target], hconf: HConf)
      : Map[(Int, Long), MdioChunkStats.ShardMeta] = {
    val parts = math.max(1, entries.sparkContext.defaultParallelism)
    entries
      .map { case (t, (k, e)) => (t, MdioChunkStats.shardOf(k, targets(t).span)) -> (k, e) }
      .groupByKey(parts) // one owner task per shard file: no write races
      .map { case ((t, sid), kvs) =>
        VPath.install(hconf.value) // executor JVMs have no SparkSession
        val tg = targets(t)
        val varDir = VPath(tg.varDirStr)
        val carried = tg.prior.get(sid)
          .map(sm => MdioChunkStats.readShard(varDir, sid, sm.gen))
          .getOrElse(Map.empty[String, MdioChunkStats.Entry])
        (t, sid) -> MdioChunkStats.writeShardFile(varDir, sid, tg.gen, carried ++ kvs.toMap)
      }
      .collect().toMap
  }

  /** S11 stat retention for a TRAILING-dim trim: the boundary cuts inside
    * every shard (shards are keyed by the LEADING chunk index), so each
    * must be filtered where it lives — one executor task per shard reads
    * it, drops entries whose dim-`di` chunk index reaches `chunkKeep`,
    * rewrites at the new generation ONLY when something dropped (an
    * untouched shard carries into the new manifest by reference), and the
    * driver receives one [[MdioChunkStats.ShardMeta]] per surviving shard
    * — O(shards) driver records, never O(entries). Returns false when the
    * prior state is not a current sharded sidecar (legacy monolith, stale,
    * absent) — the caller falls back to the driver-side filter. */
  def trimFilterShards(spark: SparkSession, varDirStr: String,
                       di: Int, chunkKeep: Long): Boolean = {
    val varDir = VPath(varDirStr)
    val g = MdioChunkStats.generation(varDir)
    MdioChunkStats.readManifest(varDir) match {
      case Some(m) if m.gen == g && m.legacy.isEmpty =>
        val hconf = HConf.capture()
        val next = MdioChunkStats.bump(varDir)
        val metas = spark.sparkContext
          .parallelize(m.shards.toSeq,
            math.max(1, math.min(m.shards.size, spark.sparkContext.defaultParallelism)))
          .flatMap { case (sid, sm) =>
            VPath.install(hconf.value)
            val vd = VPath(varDirStr)
            val prior = MdioChunkStats.readShard(vd, sid, sm.gen)
            val kept = prior.filter { case (k, _) =>
              k.split("\\.")(di).toLong < chunkKeep }
            if (kept.isEmpty) None
            else if (kept.size == prior.size) Some(sid -> sm) // untouched: by reference
            else Some(sid -> MdioChunkStats.writeShardFile(vd, sid, next, kept))
          }.collect().toMap
        MdioChunkStats.writeManifest(varDir, next, m.span, metas)
        MdioChunkStats.gcShards(varDir, m.shards.keySet, metas.keySet)
        true
      case _ => false
    }
  }

  /** Distributed span re-derivation: read every live shard from executors,
    * re-derive the span from (entry count, max lead), and fully republish
    * at a new generation when the span actually changes. Shard files the
    * new manifest no longer lists are GC'd. */
  private def respan(spark: SparkSession, varDirStr: String, hconf: HConf,
                     curSpan: Long,
                     shards: Map[Long, MdioChunkStats.ShardMeta]): Unit = {
    val varDir = VPath(varDirStr)
    val all: RDD[(String, MdioChunkStats.Entry)] = spark.sparkContext
      .parallelize(shards.toSeq, math.max(1, math.min(shards.size, spark.sparkContext.defaultParallelism)))
      .flatMap { case (sid, sm) =>
        VPath.install(hconf.value)
        MdioChunkStats.readShard(VPath(varDirStr), sid, sm.gen)
      }
    val (count, maxLead) = all
      .map { case (k, _) => (1L, MdioChunkStats.leadIdx(k)) }
      .fold((0L, 0L)) { case ((c1, m1), (c2, m2)) => (c1 + c2, math.max(m1, m2)) }
    val span2 = MdioChunkStats.deriveSpanOf(count, maxLead)
    if (span2 == curSpan || count == 0L) return
    val next = MdioChunkStats.bump(varDir)
    val written = writeShards(all.map(0 -> _),
      Seq(Target(varDirStr, span2, next, Map.empty, shards.keySet)), hconf)
      .map { case ((_, sid), sm) => sid -> sm }
    MdioChunkStats.writeManifest(varDir, next, span2, written)
    MdioChunkStats.gcShards(varDir, shards.keySet, written.keySet)
  }
}
