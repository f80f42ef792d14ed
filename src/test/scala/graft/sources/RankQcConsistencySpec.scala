package graft.sources

import graft.SparkSpec
import graft.operators.MdioStats
import graft.spec.MdioSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Cross-checks EVERY rank-QC operator (countInRange / countInRangeByBox /
  * kthSmallest / quantilesOf / medianByLead / histogramMeta /
  * extremaLocation) against brute-force expectations computed from the raw
  * values, over a set of ADVERSARIAL value tables: ties sitting exactly on
  * chunk boundaries (bracket edges coincide with data), an all-equal store
  * (every chunk is a candidate for everything), NaN scattered through
  * chunks, zero-centered amplitudes (every chunk interval overlaps — the
  * degenerate case the r14–r16 rank work exists for), and values far
  * outside the histogram domain (clip rule). The pruned answers must equal
  * the brute-force ones EXACTLY — these operators advertise exactness, not
  * approximation — and none may fall back (the sidecar is always current
  * here). Reference anchor: statsV1 QC, mdio/stats.h:229-335. */
class RankQcConsistencySpec extends SparkSpec {
  import spark.implicits._

  private def create(values: IndexedSeq[Double]): String = {
    require(values.size == 64)
    val dir = Files.createTempDirectory("mdio_rankqc").resolve("s.mdio").toString
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
    val fn = udf((i: Long) => values(i.toInt))
    MdioWriter.writeVariable(spark,
      spark.range(64).select($"id".as("x"), fn($"id").as("v")), dir, "v")
    dir
  }

  private val cases: Seq[(String, IndexedSeq[Double])] = Seq(
    "boundary ties" -> // each chunk's min/max repeat across neighbors
      (0 until 64).map(i => ((i / 4) * 4).toDouble),
    "all equal" -> IndexedSeq.fill(64)(7.5),
    "NaN scattered" ->
      (0 until 64).map(i => if (i % 7 == 3) Double.NaN else (i % 13).toDouble),
    "zero-centered overlap" -> // chunk i holds {-28+j*8+i}: all intervals overlap
      (0 until 64).map(i => (-28 + (i % 8) * 8 + i / 8).toDouble),
    "clip outliers" -> // values far outside any [lo, lo+n*w) domain
      (0 until 64).map(i => if (i < 8) -1e6 else if (i >= 56) 1e6 else i.toDouble),
    "two distinct" ->
      (0 until 64).map(i => if (i % 3 == 0) 1.0 else 2.0)
  )

  private def finite(vs: IndexedSeq[Double]): IndexedSeq[Double] =
    vs.filter(!_.isNaN)

  test("pruned rank-QC answers equal brute force on adversarial stores") {
    runBattery(reshard = false)
  }

  test("the hierarchical (whole-shard manifest) paths agree under the same data") {
    // one chunk per shard: every shard summary is live in the triage, so
    // the coarse/refinement arms of every operator run on the SAME
    // adversarial tables as the chunk-level battery
    runBattery(reshard = true)
  }

  private def runBattery(reshard: Boolean): Unit = {
    cases.foreach { case (label, vs) =>
      val dir = create(vs)
      if (reshard) {
        val varDir = graft.zarr.ZarrMeta.path(dir).resolve("v")
        MdioChunkStats.write(varDir, MdioChunkStats.generation(varDir),
          MdioChunkStats.current(varDir).get, span = 1)
      }
      val fin = finite(vs)
      val sorted = fin.sorted

      // countInRange at adversarial edges: data values AND chunk bounds
      val probes = Seq(
        (0.0, 0.0), (1.0, 2.0), (-28.0, 3.0), (4.0, 4.0),
        (sorted.headOption.getOrElse(0.0), sorted.lastOption.getOrElse(0.0)))
      probes.foreach { case (lo, hi) if lo <= hi =>
        val r = MdioStats.countInRange(spark, dir, "v", lo, hi)
        val want = fin.count(v => v >= lo && v <= hi).toLong
        assert(!r.fallback && r.count == want,
          s"[$label] countInRange($lo, $hi): got ${r.count}, want $want ($r)")
      case _ => ()
      }

      // kthSmallest + quantilesOf across the whole rank range
      if (fin.nonEmpty) {
        val ks = Seq(1L, fin.size.toLong, (fin.size.toLong + 1) / 2)
        ks.foreach { k =>
          val r = MdioStats.kthSmallest(spark, dir, "v", k)
          assert(!r.fallback && r.value == sorted((k - 1).toInt),
            s"[$label] kthSmallest($k): got ${r.value}, want ${sorted((k - 1).toInt)}")
        }
        val ps = Seq(0.1, 0.5, 0.9, 1.0)
        val q = MdioStats.quantilesOf(spark, dir, "v", ps)
        assert(!q.fallback, s"[$label] quantilesOf fell back")
        ps.zip(q.ks).zip(q.values).foreach { case ((p, k), v) =>
          val wantK = (BigDecimal(p) * fin.size)
            .setScale(0, BigDecimal.RoundingMode.CEILING).toLong
          assert(k == wantK && v == sorted((k - 1).toInt),
            s"[$label] quantile $p: got (k=$k, v=$v), want (k=$wantK, v=${sorted((wantK - 1).toInt)})")
        }
      }

      // medianByLead over 16-index slabs: lower median per slab
      val med = MdioStats.medianByLead(spark, dir, "v", 16L)
      assert(!med.fallback, s"[$label] medianByLead fell back")
      val wantMed = (0 until 4).flatMap { g =>
        val cells = finite(vs.slice(16 * g, 16 * (g + 1))).sorted
        if (cells.isEmpty) None
        else Some((g.toLong, cells(((cells.size + 1) / 2 - 1)), cells.size.toLong))
      }
      assert(med.result.orderBy("slab").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq == wantMed,
        s"[$label] medianByLead mismatch")

      // quantilesByBox over the same slabs: exact ⌈p·n⌉ per (slab, p)
      val qps = Seq(0.25, 0.75, 1.0)
      val qb = MdioStats.quantilesByBox(spark, dir, "v", qps, Seq(16L))
      assert(!qb.fallback, s"[$label] quantilesByBox fell back")
      def wantQuantiles(size: Int, ps: Seq[Double]) = (0 until 64 / size).flatMap { g =>
        val cells = finite(vs.slice(size * g, size * (g + 1))).sorted
        if (cells.isEmpty) Nil
        else ps.map { p =>
          val k = (BigDecimal(p) * cells.size)
            .setScale(0, BigDecimal.RoundingMode.CEILING).toInt
          (g.toLong, p, cells(k - 1), cells.size.toLong)
        }
      }
      val wantQ = wantQuantiles(16, qps)
      def qRows(r: MdioStats.GroupedQuantiles) =
        r.result.orderBy("g_x", "p").collect()
          .map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2), x.getLong(3))).toSeq
      assert(qRows(qb) == wantQ, s"[$label] quantilesByBox mismatch")
      // past the maxGroups driver-state cap, the DISTRIBUTED fallback is
      // the plan — and must agree exactly (incl. its decimal ⌈p·n⌉ ranks)
      val qf = MdioStats.quantilesByBox(spark, dir, "v", qps, Seq(16L), maxGroups = 1)
      assert(qf.fallback, s"[$label] maxGroups cap did not fire")
      assert(qRows(qf) == wantQ, s"[$label] capped quantilesByBox mismatch")
      // 8 one-chunk groups × 129 ranks: past the driver pick's bound
      // (requests × 1024 buckets > 2^20 rows) the pruned pass picks
      // distributed, and must agree exactly as well
      val many = (1 to 129).map(_ / 129.0)
      val qm = MdioStats.quantilesByBox(spark, dir, "v", many, Seq(8L))
      assert(!qm.fallback, s"[$label] quantilesByBox over 8 groups fell back")
      assert(qRows(qm) == wantQuantiles(8, many), s"[$label] distributed-pick quantilesByBox mismatch")

      // countInRangeByBox on the same slabs
      val box = MdioStats.countInRangeByBox(spark, dir, "v", 1.0, 4.0, Seq(16L))
      assert(!box.fallback, s"[$label] countInRangeByBox fell back")
      val wantBox = (0 until 4).flatMap { g =>
        val cells = finite(vs.slice(16 * g, 16 * (g + 1)))
        if (cells.isEmpty) None
        else Some((g.toLong, cells.count(v => v >= 1.0 && v <= 4.0).toLong, cells.size.toLong))
      }
      assert(box.result.orderBy("g_x").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == wantBox,
        s"[$label] countInRangeByBox mismatch")
      // its maxGroups cap falls back to the distributed one-scan form
      val boxF = MdioStats.countInRangeByBox(spark, dir, "v", 1.0, 4.0, Seq(16L),
        maxGroups = 1)
      assert(boxF.fallback, s"[$label] countInRangeByBox cap did not fire")
      assert(boxF.result.orderBy("g_x").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == wantBox,
        s"[$label] capped countInRangeByBox mismatch")

      // histogramMeta under two bin configs incl. the clip rule
      Seq((0.0, 4.0, 4), (-8.0, 16.0, 3)).foreach { case (lo, w, n) =>
        val h = MdioStats.histogramMeta(spark, dir, "v", lo, w, n)
        assert(!h.fallback, s"[$label] histogramMeta fell back")
        def bin(v: Double): Long = {
          val b = math.floor((v - lo) / w).toInt
          (if (b < 0) 0 else if (b >= n) n - 1 else b).toLong
        }
        val want = fin.groupBy(bin).map { case (b, g) => (b, g.size.toLong) }
          .toSeq.sortBy(_._1)
        assert(h.result.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq == want,
          s"[$label] histogramMeta($lo, $w, $n) mismatch")
      }

      // extremaLocation: first occurrence in index order
      val ex = MdioStats.extremaLocation(spark, dir, "v")
      assert(!ex.fallback, s"[$label] extremaLocation fell back")
      if (fin.isEmpty) assert(ex.result.count() == 0)
      else {
        val row = ex.result.collect().head
        val wantMin = vs.indexWhere(_ == sorted.head).toLong
        val wantMax = vs.indexWhere(_ == sorted.last).toLong
        assert((row.getDouble(0), row.getLong(1), row.getDouble(2), row.getLong(3)) ==
          (sorted.head, wantMin, sorted.last, wantMax),
          s"[$label] extremaLocation mismatch: $row")
      }

      // extremaByBox: per-slab extrema + FIRST-occurrence locations
      def wantExtrema(wLo: Int, wHi: Int): Seq[(Long, Double, Long, Double, Long, Long)] =
        (0 until 4).flatMap { g =>
          val lo = math.max(16 * g, wLo)
          val hi = math.min(16 * (g + 1), wHi)
          if (lo >= hi) None
          else {
            val cells = vs.slice(lo, hi).zipWithIndex
              .map { case (v, i) => (v, (lo + i).toLong) }.filter(!_._1.isNaN)
            if (cells.isEmpty) None
            else {
              val mn = cells.map(_._1).min
              val mx = cells.map(_._1).max
              Some((g.toLong, mn, cells.find(_._1 == mn).get._2,
                mx, cells.find(_._1 == mx).get._2, cells.size.toLong))
            }
          }
        }
      def exRows(r: MdioStats.GroupedExtrema) =
        r.result.orderBy("g_x").collect().map(x => (x.getLong(0),
          x.getDouble(1), x.getLong(2), x.getDouble(3), x.getLong(4),
          x.getLong(5))).toSeq
      val gex = MdioStats.extremaByBox(spark, dir, "v", Seq(16L))
      assert(!gex.fallback, s"[$label] extremaByBox fell back")
      assert(exRows(gex) == wantExtrema(0, 64), s"[$label] extremaByBox mismatch")
      // past the group cap, the distributed two-pass form must agree
      val gexF = MdioStats.extremaByBox(spark, dir, "v", Seq(16L), maxGroups = 1)
      assert(gexF.fallback, s"[$label] extremaByBox cap did not fire")
      assert(exRows(gexF) == wantExtrema(0, 64),
        s"[$label] capped extremaByBox mismatch")

      // WINDOWED forms (r18): every operator restricted to dim boxes —
      // aligned windows must stay on the pruned path, the misaligned one
      // must fall back — and all must equal brute force over the slice
      val windows = Seq((8, 56, true), (16, 32, true), (5, 50, false))
      windows.foreach { case (wLo, wHi, aligned) =>
        val rng = Map("x" -> (wLo.toLong, wHi.toLong))
        val wvs = vs.slice(wLo, wHi)
        val wfin = finite(wvs)
        val wsorted = wfin.sorted
        val cir = MdioStats.countInRange(spark, dir, "v", 1.0, 4.0, ranges = rng)
        assert(cir.fallback != aligned,
          s"[$label] windowed countInRange($wLo,$wHi) wrong path: $cir")
        assert(cir.count == wfin.count(v => v >= 1.0 && v <= 4.0).toLong,
          s"[$label] windowed countInRange($wLo,$wHi): $cir")
        if (wfin.nonEmpty) {
          val k = (wfin.size.toLong + 1) / 2
          val kth = MdioStats.kthSmallest(spark, dir, "v", k, ranges = rng)
          assert(kth.fallback != aligned && kth.value == wsorted((k - 1).toInt),
            s"[$label] windowed kthSmallest($wLo,$wHi,$k): $kth")
          val q = MdioStats.quantilesOf(spark, dir, "v", Seq(0.5, 1.0), ranges = rng)
          assert(q.fallback != aligned, s"[$label] windowed quantilesOf path")
          q.ks.zip(q.values).foreach { case (qk, qv) =>
            assert(qv == wsorted((qk - 1).toInt),
              s"[$label] windowed quantilesOf($wLo,$wHi) k=$qk: $qv")
          }
          val wex = MdioStats.extremaLocation(spark, dir, "v", ranges = rng)
          assert(wex.fallback != aligned, s"[$label] windowed extrema path")
          val wrow = wex.result.collect().head
          assert((wrow.getDouble(0), wrow.getLong(1),
            wrow.getDouble(2), wrow.getLong(3)) ==
            (wsorted.head, (wLo + wvs.indexWhere(_ == wsorted.head)).toLong,
              wsorted.last, (wLo + wvs.indexWhere(_ == wsorted.last)).toLong),
            s"[$label] windowed extremaLocation($wLo,$wHi): $wrow")
        }
        val wh = MdioStats.histogramMeta(spark, dir, "v", 0.0, 4.0, 4, ranges = rng)
        assert(wh.fallback != aligned, s"[$label] windowed histogram path")
        def bin4(v: Double): Long = {
          val b = math.floor(v / 4.0).toInt
          (if (b < 0) 0 else if (b >= 4) 3 else b).toLong
        }
        assert(wh.result.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
          wfin.groupBy(bin4).map { case (b, g) => (b, g.size.toLong) }
            .toSeq.sortBy(_._1),
          s"[$label] windowed histogramMeta($wLo,$wHi) mismatch")
        // grouped twins under the same window: ABSOLUTE slab ids over
        // 16-index slabs, clipped slabs count/rank their surviving cells
        def slabWant[T](f: IndexedSeq[Double] => Option[T]): Seq[(Long, T)] =
          (0 until 4).flatMap { g =>
            val cells = finite(vs.slice(math.max(16 * g, wLo),
              math.min(16 * (g + 1), wHi)))
            if (16 * g >= wHi || 16 * (g + 1) <= wLo) None
            else f(cells).map(g.toLong -> _)
          }
        val wqb = MdioStats.quantilesByBox(spark, dir, "v", Seq(0.5), Seq(16L),
          ranges = rng)
        assert(wqb.fallback != aligned, s"[$label] windowed quantilesByBox path")
        val wantWQ = slabWant { cells =>
          if (cells.isEmpty) None
          else {
            val s2 = cells.sorted
            Some((s2((cells.size + 1) / 2 - 1), cells.size.toLong))
          }
        }
        assert(wqb.result.orderBy("g_x").collect()
          .map(x => (x.getLong(0), (x.getDouble(2), x.getLong(3)))).toSeq == wantWQ,
          s"[$label] windowed quantilesByBox($wLo,$wHi) mismatch")
        val wbox = MdioStats.countInRangeByBox(spark, dir, "v", 1.0, 4.0,
          Seq(16L), ranges = rng)
        assert(wbox.fallback != aligned, s"[$label] windowed countByBox path")
        val wantWB = slabWant { cells =>
          if (cells.isEmpty) None
          else Some((cells.count(v => v >= 1.0 && v <= 4.0).toLong, cells.size.toLong))
        }
        assert(wbox.result.orderBy("g_x").collect()
          .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toSeq == wantWB,
          s"[$label] windowed countInRangeByBox($wLo,$wHi) mismatch")
        val wgex = MdioStats.extremaByBox(spark, dir, "v", Seq(16L), ranges = rng)
        assert(wgex.fallback != aligned, s"[$label] windowed extremaByBox path")
        assert(exRows(wgex) == wantExtrema(wLo, wHi),
          s"[$label] windowed extremaByBox($wLo,$wHi) mismatch")
      }

      // UNION (OR-of-ranges) forms (r19): every union-capable operator
      // over three disjoint chunk-aligned slabs, against brute force over
      // the union's cells; under reshard = true the coarse summaries and
      // openCoarse refinement run the same battery
      val uWins = Seq(Map("x" -> (0L, 16L)), Map("x" -> (24L, 40L)),
        Map("x" -> (56L, 64L)))
      val uvs = vs.slice(0, 16) ++ vs.slice(24, 40) ++ vs.slice(56, 64)
      val uIdx = ((0 until 16) ++ (24 until 40) ++ (56 until 64)).map(_.toLong)
      val ufin = finite(uvs)
      val usorted = ufin.sorted
      val ucir = MdioStats.countInRange(spark, dir, "v", 1.0, 4.0, windows = uWins)
      assert(!ucir.fallback && ucir.count ==
        ufin.count(v => v >= 1.0 && v <= 4.0).toLong,
        s"[$label] union countInRange: $ucir")
      if (ufin.nonEmpty) {
        Seq(1L, (ufin.size.toLong + 1) / 2, ufin.size.toLong).foreach { k =>
          val r = MdioStats.kthSmallest(spark, dir, "v", k, windows = uWins)
          assert(!r.fallback && r.value == usorted((k - 1).toInt),
            s"[$label] union kthSmallest($k): $r")
        }
        val uq = MdioStats.quantilesOf(spark, dir, "v", Seq(0.25, 0.75, 1.0),
          windows = uWins)
        assert(!uq.fallback, s"[$label] union quantilesOf fell back")
        uq.ks.zip(uq.values).foreach { case (qk, qv) =>
          assert(qv == usorted((qk - 1).toInt),
            s"[$label] union quantilesOf k=$qk: $qv")
        }
        val uex = MdioStats.extremaLocation(spark, dir, "v", windows = uWins)
        assert(!uex.fallback, s"[$label] union extremaLocation fell back")
        val urow = uex.result.collect().head
        val pairs = uvs.zip(uIdx).filter(!_._1.isNaN)
        assert((urow.getDouble(0), urow.getLong(1),
          urow.getDouble(2), urow.getLong(3)) ==
          (usorted.head, pairs.find(_._1 == usorted.head).get._2,
            usorted.last, pairs.find(_._1 == usorted.last).get._2),
          s"[$label] union extremaLocation: $urow")
      }
      val uh = MdioStats.histogramMeta(spark, dir, "v", 0.0, 4.0, 4,
        windows = uWins)
      assert(!uh.fallback, s"[$label] union histogramMeta fell back")
      def ubin(v: Double): Long = {
        val b = math.floor(v / 4.0).toInt
        (if (b < 0) 0 else if (b >= 4) 3 else b).toLong
      }
      assert(uh.result.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
        ufin.groupBy(ubin).map { case (b, g) => (b, g.size.toLong) }
          .toSeq.sortBy(_._1),
        s"[$label] union histogramMeta mismatch")

      MdioWriter.delete(dir)
    }
  }
}
