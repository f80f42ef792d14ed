package graft.sources

import graft.SparkSpec
import graft.operators.MdioFsck
import graft.spec.MdioSpec
import graft.zarr.ZarrMeta
import java.nio.file.Files

/** [[MdioFsck]] — every corruption class the audit claims to detect,
  * injected for real: a clean store audits clean with exact totals, a
  * tampered sidecar bound is caught by the DISTRIBUTED recompute, a
  * beyond-grid chunk file, an orphan stat fragment and the leftover
  * temporary of an interrupted chunk put surface from the inventory
  * sweep, a garbage shard file reads as torn, and a stale
  * generation downgrades to the single legal-state warning. */
class MdioFsckSpec extends SparkSpec {
  import spark.implicits._

  private def create(): String = {
    val dir = Files.createTempDirectory("mdio_fsck").resolve("s.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "s", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "x", "dataType": "int64",
        |     "dimensions": [{"name": "x", "size": 64}]},
        |    {"name": "v", "dataType": "float64",
        |     "dimensions": [{"name": "x", "size": 64}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8]}}}}
        |  ]
        |}""".stripMargin), dir)
    MdioWriter.writeVariable(spark,
      spark.range(64).select($"id".as("x"), $"id".cast("double").as("v")), dir, "v")
    dir
  }

  private def findings(dir: String) =
    MdioFsck.check(spark, dir, "v").findings
      .select("severity", "kind", "subject").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq

  test("a clean store audits clean with exact totals") {
    val dir = create()
    val a = MdioFsck.check(spark, dir, "v")
    assert(a.findings.count() == 0L, a.findings.collect().mkString("\n"))
    assert(a.chunksAudited == 8L && a.cells == 64L, a)
    MdioWriter.delete(dir)
  }

  test("checkAll audits every variable, coordinates included") {
    val dir = create()
    val a = MdioFsck.checkAll(spark, dir)
    // v: 8 chunks / 64 cells; the x coordinate array audits too (its own
    // sidecar state contributes whatever it has — no errors either way)
    assert(a.findings.filter($"severity" === "error").count() == 0L,
      a.findings.collect().mkString("\n"))
    assert(a.chunksAudited >= 8L && a.cells >= 64L, a)
    MdioWriter.delete(dir)
  }

  test("a tampered sidecar bound is caught by the distributed recompute") {
    val dir = create()
    val varDir = ZarrMeta.path(dir).resolve("v")
    val entries = MdioChunkStats.current(varDir).get
    val bad = entries.updated("3",
      entries("3").map(b => b.copy(min = b.min + 1))) // claims min 25, data has 24
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir), bad)
    val f = findings(dir)
    assert(f == Seq(("error", "recompute", "3")), f)
    MdioWriter.delete(dir)
  }

  test("inventory: beyond-grid chunk files and orphan fragments surface") {
    val dir = create()
    val varDir = ZarrMeta.path(dir).resolve("v")
    varDir.resolve("9").write(Array[Byte](1, 2, 3)) // grid has chunks 0-7
    varDir.resolve(".mdio_statfrag.deadjob.x").writeString("[]")
    val f = findings(dir)
    assert(f.contains(("error", "inventory", "9")) &&
      f.contains(("warning", "inventory", ".mdio_statfrag.deadjob.x")), f)
    MdioWriter.delete(dir)
  }

  test("a corrupt chunk key inside a shard is a finding, not a crash") {
    val dir = create()
    val varDir = ZarrMeta.path(dir).resolve("v")
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir),
      MdioChunkStats.current(varDir).get, span = 4)
    // corrupt shard 0's key "0" into a non-numeric key in place — the
    // audit must keep going and name the entry (checks 2-4 still run)
    val sf = varDir.resolve(MdioChunkStats.shardFile(0L))
    sf.writeString(new String(sf.readBytesOrNull(), "UTF-8")
      .replaceFirst("\"0\":", "\"bogus\":"))
    val f = findings(dir)
    assert(f.contains(("error", "entry", "bogus")), f)
    MdioWriter.delete(dir)
  }

  test("sharded-manifest audit parses shard files on executors, not the driver") {
    val dir = create()
    val varDir = ZarrMeta.path(dir).resolve("v")
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir),
      MdioChunkStats.current(varDir).get, span = 2) // 4 shard files
    val a = MdioFsck.check(spark, dir, "v")
    assert(a.chunksAudited == 8L && a.cells == 64L, a)
    assert(a.findings.count() == 0L, a.findings.collect().mkString("\n"))
    // the expected side of the recompute join is the DISTRIBUTED shard
    // parse (the serialized map over the shard-id dataset), never a
    // driver-built local relation of chunk entries — the driver holds the
    // manifest and the findings, not the ~1.6 M-entry sidecar
    val plan = a.findings.queryExecution.optimizedPlan.toString
    assert(plan.contains("SerializeFromObject"), plan.take(800))
    assert(!plan.contains("LocalTableScan [key"), plan.take(800))
    MdioWriter.delete(dir)
  }

  test("inventory: v3 nested chunk files check against the on-disk grid") {
    def createV3(shard: Boolean): String = {
      val dir = Files.createTempDirectory("mdio_fsck").resolve("v3.mdio").toString
      val grid = if (shard) "{\"chunkShape\": [8], \"shardShape\": [16]}"
        else "{\"chunkShape\": [8]}"
      MdioWriter.create(MdioSpec.fromJson(
        s"""{
           |  "metadata": {"name": "s", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
           |  "variables": [
           |    {"name": "x", "dataType": "int64",
           |     "dimensions": [{"name": "x", "size": 64}]},
           |    {"name": "v", "dataType": "float64",
           |     "dimensions": [{"name": "x", "size": 64}],
           |     "metadata": {"chunkGrid": {"name": "regular", "configuration": $grid}}}
           |  ]
           |}""".stripMargin), dir, version = 3)
      MdioWriter.writeVariable(spark,
        spark.range(64).select($"id".as("x"), $"id".cast("double").as("v")), dir, "v")
      dir
    }
    // unsharded: chunk files c/<i> live on the 8-chunk grid — c/9 is junk
    val dir = createV3(shard = false)
    ZarrMeta.path(dir).resolve("v").resolve("c/9").write(Array[Byte](1))
    val f = findings(dir)
    assert(f.contains(("error", "inventory", "c/9")), f)
    // sharded: the FILES are shard objects on the 4-shard grid — c/5 is
    // beyond-grid even though the INNER chunk grid has 8 positions
    val dir2 = createV3(shard = true)
    ZarrMeta.path(dir2).resolve("v").resolve("c/5").write(Array[Byte](1))
    val f2 = findings(dir2)
    assert(f2.contains(("error", "inventory", "c/5")), f2)
    assert(!f2.exists(x => x._2 == "inventory" && x._3 == "c/3"), f2)
    MdioWriter.delete(dir); MdioWriter.delete(dir2)
  }

  test("inventory: leftover temporaries of interrupted chunk puts surface") {
    // a crash inside VPath.replace leaves the hidden `.<name>.<uuid>.tmp`
    // sibling of the chunk it was writing: at a v2 variable root, and
    // under c/ in a v3 store
    val tmp = s".${java.util.UUID.randomUUID()}.tmp"
    val dir = create()
    ZarrMeta.path(dir).resolve("v").resolve(s".3$tmp").write(Array[Byte](1))
    assert(findings(dir) == Seq(("warning", "inventory", s".3$tmp")), findings(dir))
    val dir3 = Files.createTempDirectory("mdio_fsck").resolve("v3.mdio").toString
    MdioWriter.create(MdioSpec.fromJson(
      """{
        |  "metadata": {"name": "s", "apiVersion": "v1.0", "createdOn": "2026-01-01T00:00:00Z"},
        |  "variables": [
        |    {"name": "x", "dataType": "int64", "dimensions": [{"name": "x", "size": 16}]},
        |    {"name": "y", "dataType": "int64", "dimensions": [{"name": "y", "size": 16}]},
        |    {"name": "v", "dataType": "float64",
        |     "dimensions": [{"name": "x", "size": 16}, {"name": "y", "size": 16}],
        |     "metadata": {"chunkGrid": {"name": "regular", "configuration": {"chunkShape": [8, 8]}}}}
        |  ]
        |}""".stripMargin), dir3, version = 3)
    MdioWriter.writeVariable(spark, spark.range(256)
      .select(($"id" / 16).cast("long").as("x"), ($"id" % 16).as("y"),
        $"id".cast("double").as("v")), dir3, "v")
    ZarrMeta.path(dir3).resolve("v").resolve(s"c/1/.0$tmp").write(Array[Byte](1))
    assert(findings(dir3) == Seq(("warning", "inventory", s"c/1/.0$tmp")), findings(dir3))
    MdioWriter.delete(dir); MdioWriter.delete(dir3)
  }

  test("repair: a tampered sidecar bound recomputes exactly and pruning resumes") {
    val dir = create()
    val varDir = ZarrMeta.path(dir).resolve("v")
    val good = MdioChunkStats.current(varDir).get
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir),
      good.updated("3", good("3").map(b => b.copy(min = b.min + 1))))
    val r = MdioFsck.repair(spark, dir, "v")
    assert(r.repairedChunks == 1L, r)
    assert(r.repaired == Seq("3"), r) // the rewritten keys are reviewable
    assert(r.findings.count() == 0L, r.findings.collect().mkString("\n"))
    assert(r.chunksAudited == 8L && r.cells == 64L, r)
    // the repaired entry is exactly what the writer had published
    assert(MdioChunkStats.current(varDir).get("3") == good("3"))
    // and the rank/pruning consumers run on the repaired sidecar
    val c = graft.operators.MdioStats.countInRange(spark, dir, "v", 24.0, 31.0)
    assert(!c.fallback && c.count == 8L, c)
    MdioWriter.delete(dir)
  }

  test("repair: a torn shard recomputes its whole lead range") {
    val dir = create()
    val varDir = ZarrMeta.path(dir).resolve("v")
    val good = MdioChunkStats.current(varDir).get
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir), good, span = 4)
    varDir.resolve(MdioChunkStats.shardFile(1L)).writeString("{ not json")
    val r = MdioFsck.repair(spark, dir, "v")
    assert(r.repairedChunks == 4L, r) // shard 1 = chunks 4-7
    assert(r.repaired == Seq("4", "5", "6", "7"), r)
    assert(r.findings.count() == 0L, r.findings.collect().mkString("\n"))
    assert(MdioChunkStats.current(varDir).get == good)
    MdioWriter.delete(dir)
  }

  test("repair: a corrupted key is restored and the junk entry dropped") {
    val dir = create()
    val varDir = ZarrMeta.path(dir).resolve("v")
    val good = MdioChunkStats.current(varDir).get
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir), good, span = 4)
    // rename key "0" to "bogus" in place: the missing real key implicates
    // the shard via the recompute join, so the rewrite drops the junk
    val sf = varDir.resolve(MdioChunkStats.shardFile(0L))
    sf.writeString(new String(sf.readBytesOrNull(), "UTF-8")
      .replaceFirst("\"0\":", "\"bogus\":"))
    val r = MdioFsck.repair(spark, dir, "v")
    assert(r.findings.count() == 0L, r.findings.collect().mkString("\n"))
    assert(MdioChunkStats.current(varDir).get == good)
    // a parseable BEYOND-GRID entry drops the same way
    val good2 = MdioChunkStats.current(varDir).get
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir),
      good2.updated("9", good2("0")), span = 4)
    val r2 = MdioFsck.repair(spark, dir, "v")
    assert(r2.findings.count() == 0L, r2.findings.collect().mkString("\n"))
    assert(MdioChunkStats.current(varDir).get == good2)
    MdioWriter.delete(dir)
  }

  test("repair: clean stores and stale sidecars repair nothing") {
    val dir = create()
    val r = MdioFsck.repair(spark, dir, "v")
    assert(r.repairedChunks == 0L && r.findings.count() == 0L, r)
    MdioChunkStats.bump(ZarrMeta.path(dir).resolve("v"))
    val r2 = MdioFsck.repair(spark, dir, "v") // stale is legal, not corrupt
    assert(r2.repairedChunks == 0L, r2)
    assert(r2.findings.collect().map(x =>
      (x.getString(0), x.getString(1))).toSeq == Seq(("warning", "stats")), r2)
    MdioWriter.delete(dir)
  }

  test("a garbage shard file reads as torn; stale stats downgrade to one warning") {
    val dir = create()
    val varDir = ZarrMeta.path(dir).resolve("v")
    MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir),
      MdioChunkStats.current(varDir).get, span = 4)
    varDir.resolve(MdioChunkStats.shardFile(1L)).writeString("{ not json")
    val torn = findings(dir)
    assert(torn.exists(x => x._1 == "error" && x._2 == "shard" && x._3 == "s1"), torn)
    // stale: bump the data generation past the sidecar — one warning, no
    // recompute false-positives (stale is a legal state, not corruption)
    val dir2 = create()
    MdioChunkStats.bump(ZarrMeta.path(dir2).resolve("v"))
    val f2 = findings(dir2)
    assert(f2 == Seq(("warning", "stats", "v")), f2)
    MdioWriter.delete(dir); MdioWriter.delete(dir2)
  }
}
